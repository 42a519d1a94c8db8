package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftEngine
import graft.enrich.{HttpChatEnricher, RetryPolicy}
import graft.model.{AiConfig, MappingConfig, OutputConfig, PipelineConfig, PromptTemplate}

/** The reference's product path, one closed-loop client: each cycle
  * uploads the generated CSV, runs `process` with `HttpChatEnricher`
  * against the stub, forces the results, and exports them. A cycle's
  * layers are timed around the engine's public calls:
  *
  *   sources.load    GraftEngine.upload (parse + count)
  *   pipeline.build  GraftEngine.process (BatchPipeline.run construction,
  *                   including the file-order index job)
  *   pipeline.exec   the first action on the results (every AI call)
  *   sinks.export    GraftEngine.exportResults
  *
  * The first cycle runs in a fresh JVM and session (cold); the rest are
  * warm. Each cycle exports to its own directory for the checker. */
final class EnrichWorkload(
    spark: SparkSession,
    engine: GraftEngine,
    counters: Option[PhaseCounters],
    input: String,
    stub: StubControl,
    workDir: String,
    flat: Boolean,
    seconds: Double,
    trace: Boolean) {

  /** Warm cycles every untraced run makes. A flat cycle takes about 5 s;
    * a grouped one about 2 s and still speeds up with JIT work from
    * cycle to cycle, so it makes three and the warm metrics take their
    * median. */
  private val MinWarm = if (flat) 1 else 3

  private val cfg = PipelineConfig(
    // service "test": no client-side throttle (the reference clamps real
    // services to 1-60 calls/min, which would pin every run at that rate)
    ai = AiConfig(service = "test", model = "bench-model", rateLimit = 60),
    mapping = MappingConfig("text", groupBy = if (flat) None else Some("conversation")),
    prompt = PromptTemplate("item {id}: {text}"),
    output = OutputConfig(format = if (flat) "both" else "json"))

  private val tracer = new Tracer(trace, id => stub.post("/ctl/parent", id.toString))
  private val off = new Tracer(false)

  def run(): Map[String, Any] = {
    val enricher = new HttpChatEnricher(stub.base + "/v1")
    val cycles = ArrayBuffer.empty[Map[String, Any]]
    var storage = 0.0
    val t0 = System.nanoTime()
    while (cycles.size < Main.minPasses(trace, MinWarm) || Main.seconds(t0) < seconds) {
      val i = cycles.size
      val traced = trace && Main.tracedPass(i)
      val tr = if (traced) tracer else off
      val key = s"cycle$i"
      val dir = s"$workDir/cycle_$i"
      stub.post("/ctl/reset", "")
      // per layer: its seconds, and its window on the stub's clock
      val layers = mutable.LinkedHashMap.empty[String, Any]
      def layer[T](name: String)(body: => T): T = {
        if (traced) Main.phase(spark, counters, s"$key/$name")
        layers(s"$name.start_us") = Tracer.nowUs()
        val s = System.nanoTime()
        val r = tr.span(name, key)(body)
        layers(s"${name}_s") = Main.seconds(s)
        layers(s"$name.end_us") = Tracer.nowUs()
        r
      }
      val start = System.nanoTime()
      val report = tr.span("cycle", key) {
        val up = layer("sources.load")(engine.upload(input))
        val rep = layer("pipeline.build")(engine.process(up.name, cfg, enricher))
        layer("pipeline.exec")(rep.results.count())
        layer("sinks.export")(engine.exportResults(rep.jobId, cfg.output.format, dir))
        rep
      }
      val wall = Main.seconds(start)
      Main.phase(spark, counters, null)
      // after the timed window: the quarantine re-reads the cached
      // enrichment, so it makes no further AI calls
      val quarantined = report.quarantined.count()
      // before the reset: this cycle's blocks plus any that earlier
      // cycles left behind
      if (i == Main.storagePass(MinWarm)) storage = Main.storageMb(spark)
      cycles += Map("cycle" -> i, "traced" -> traced, "wall_s" -> wall,
        "export_dir" -> dir, "quarantined" -> quarantined,
        // each injected failure is a first attempt, so each retry slept
        // the first transient backoff
        "backoff_ms" -> report.metrics.retries.value *
          RetryPolicy.backoffMs(RetryPolicy.Transient, 0)) ++ layers
      engine.reset()
    }
    Map("cycles" -> cycles.toSeq, "storage_mb" -> storage,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "key" -> s.key, "start_us" -> s.startUs, "end_us" -> s.endUs)))
  }
}
