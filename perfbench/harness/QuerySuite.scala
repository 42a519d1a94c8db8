package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The query engine's workload: the listed `SparkEntry.queries` entries
  * in name order, one cold pass in the fresh session, then warm passes
  * in the same session. Each query's wall splits into three timed calls:
  *
  *   queries.construct  the builder `fn(spark, dir)` (eager checkpoints,
  *                      collects and artifact builds run here)
  *   queries.plan       `queryExecution.executedPlan` (Catalyst)
  *   queries.exec       `count()`
  *
  * A query that throws is recorded with its error and no timing. */
final class QuerySuite(
    spark: SparkSession,
    counters: Option[PhaseCounters],
    dataDir: String,
    queryList: String,
    seconds: Double,
    trace: Boolean) {
  import QuerySuite._

  private val tracer = new Tracer(trace)
  private val off = new Tracer(false)

  def run(): Map[String, Any] = {
    val all = graft.SparkEntry.queries
    val family = readList(queryList)
    val names = family.keys.toSeq.sorted
    // untimed warm-up, as in Bench: session init, the codegen compiler
    // and a parquet footer read, so the first query measures itself
    spark.read.parquet(s"$dataDir/lineitem.parquet").select("l_orderkey").limit(1).count()
    spark.range(100).selectExpr("sum(id)").count()
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var storage = 0.0
    val t0 = System.nanoTime()
    while (passes.size < Main.minPasses(trace, MinWarm) || Main.seconds(t0) < seconds) {
      val p = passes.size
      val label = if (p == 0) "cold" else "warm"
      val traced = trace && Main.tracedPass(p)
      val tr = if (traced) tracer else off
      val start = System.nanoTime()
      val queries = names.map { name =>
        val key = s"$label$p/$name"
        def layer[T](l: String)(body: => T): (T, Double) = {
          if (traced) Main.phase(spark, counters, s"$key/$l")
          val s = System.nanoTime()
          val r = tr.span(l, key)(body)
          (r, Main.seconds(s))
        }
        val q0 = System.nanoTime()
        val rec = Map("name" -> name, "family" -> family(name))
        try {
          val fn = all.getOrElse(name, sys.error(s"no such query: $name"))
          tr.span("query", key) {
            val (df, c) = layer("queries.construct")(fn(spark, dataDir))
            val (_, pl) = layer("queries.plan")(df.queryExecution.executedPlan)
            val (n, e) = layer("queries.exec")(df.count())
            rec ++ Map("rows" -> n, "construct_s" -> c, "plan_s" -> pl, "exec_s" -> e,
              "wall_s" -> Main.seconds(q0))
          }
        } catch {
          case ex: Throwable =>
            rec + ("error" -> Option(ex.getMessage).getOrElse(ex.getClass.getName).take(300))
        } finally Main.phase(spark, counters, null)
      }
      val wall = Main.seconds(start)
      if (p == Main.storagePass(MinWarm)) storage = Main.storageMb(spark)
      passes += Map("pass" -> p, "label" -> label, "traced" -> traced, "wall_s" -> wall,
        "queries" -> queries)
    }
    Map("passes" -> passes.toSeq, "storage_mb" -> storage,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "key" -> s.key, "start_us" -> s.startUs, "end_us" -> s.endUs)))
  }
}

object QuerySuite {
  /** A warm pass is 18 short queries, and a GC pause or a burst of JIT
    * work moves any one of them; so a run makes at least two warm
    * passes, and `run.py` takes each query's median over them. */
  val MinWarm = 2

  /** The query list: one `<queries object> <query name>` line per query
    * (`#` starts a comment), as query name → object. Each object is
    * checked to hold its query, so a family label cannot drift. */
  def readList(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path)
    val pairs = try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+") match {
        case Array(obj, name) => name -> obj
        case other => sys.error(s"bad query list line: ${other.mkString(" ")}")
      }).toList
    finally src.close()
    for ((name, obj) <- pairs)
      require(objectQueries(obj).contains(name), s"$name is not in graft.queries.$obj")
    pairs.toMap
  }

  /** The `queries` map of the object `graft.queries.<obj>`. */
  private def objectQueries(obj: String): Map[String, _] = {
    val cls = Class.forName(s"graft.queries.$obj$$")
    cls.getMethod("queries").invoke(cls.getField("MODULE$").get(null))
      .asInstanceOf[Map[String, _]]
  }
}
