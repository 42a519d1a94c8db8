package perfbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.SparkSession

import graft.GraftEngine

/** Benchmark harness JVM. It drives the engine only through its public
  * entry points and writes everything it measured to one JSON file,
  * which `run.py` turns into metrics and checks:
  *
  *   --mode enrich_flat           upload → process → export, repeated
  *   --mode enrich_conversations  the same, grouped by conversation
  *   --mode query_suite           one cold pass, then warm passes
  *   --mode oracle-sql            dump SparkEntry.oracleSql (no session)
  *
  * Every timed loop runs for `--seconds`, with at least the passes the
  * metrics need. With `--trace 1` the harness also attaches a
  * [[PhaseCounters]] listener, records [[Tracer]] spans, and alternates
  * traced and untraced passes so the tracing overhead can be reported.
  */
object Main {
  val SetupRepeats = 31

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val mode = opts("mode")
    val out = opts("out")
    if (mode == "oracle-sql") { Json.write(out, graft.SparkEntry.oracleSql); return }
    val runSeconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"

    // Bench-like: queries run on a bare session
    val withEngine = mode != "query_suite"
    // the first set-up also pays JVM start and class loading; set-up is
    // then repeated after stopping the session, and those samples make
    // the reported median
    var spark = graft.LocalSessions.create()
    var engine = if (withEngine) Some(new GraftEngine(spark)) else None
    val firstS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val samples = (1 to SetupRepeats).map { _ =>
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = graft.LocalSessions.create()
      engine = if (withEngine) Some(new GraftEngine(spark)) else None
      seconds(t0)
    }
    val setup = Map("first_s" -> firstS, "samples_s" -> samples, "setup_s" -> median(samples))
    val counters = if (trace) Some(new PhaseCounters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    try {
      val body: Map[String, Any] = mode match {
        case "enrich_flat" | "enrich_conversations" =>
          new EnrichWorkload(spark, engine.get, counters, opts("input"),
            new StubControl(opts("stub")), opts("work"), flat = mode == "enrich_flat",
            runSeconds, trace).run()
        case "query_suite" =>
          new QuerySuite(spark, counters, opts("data"), opts("queries"), runSeconds, trace).run()
      }
      val counted = counters.map { c =>
        c.drain(spark.sparkContext)
        Map("counters" -> c.snapshot())
      }.getOrElse(Map.empty)
      Json.write(out, Map("mode" -> mode, "setup" -> setup,
        "cores" -> spark.sparkContext.defaultParallelism) ++ body ++ counted)
    } finally spark.stop()
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Memory plus disk held by persisted and checkpointed blocks. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Names the phase that jobs submitted from now on are charged to. */
  def phase(spark: SparkSession, counters: Option[PhaseCounters], name: String): Unit =
    if (counters.isDefined) spark.sparkContext.setLocalProperty(PhaseCounters.Key, name)

  /** In a traced run the cold pass is traced, the first warm pass is an
    * untraced warm-up, and the rest follow traced, untraced, untraced,
    * traced (repeating), so warm-up drift does not bias the
    * traced-vs-untraced overhead. */
  def tracedPass(i: Int): Boolean = i == 0 || (i >= 2 && (i - 2) % 4 % 3 == 0)

  /** Passes a run makes at least: the cold pass and `minWarm` warm
    * passes, or, traced, cold + warm-up + 4. */
  def minPasses(trace: Boolean, minWarm: Int): Int = if (trace) 6 else 1 + minWarm

  /** The pass after which `storage_mb` is read: the last one every
    * untraced run makes, so blocks that passes leave behind add up in it. */
  def storagePass(minWarm: Int): Int = minWarm

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Control endpoints of the stub AI server: `/ctl/reset` forgets which
  * rows have already been answered (a new pass starts), `/ctl/parent`
  * names the span its request spans are parented to. */
final class StubControl(val base: String) {
  private val client = HttpClient.newHttpClient()
  def post(path: String, body: String): Unit = {
    val req = HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val status = client.send(req, HttpResponse.BodyHandlers.discarding()).statusCode()
    require(status == 200, s"stub control $path answered $status")
  }
}
