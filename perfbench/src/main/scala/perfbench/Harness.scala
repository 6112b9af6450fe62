package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.engine.{CachedPlans, GraftExtensions, SessionDefaults, Tables, TempArtifacts}

/** One benchmark run in a fresh JVM: set-up, one cold pass, then warm
  * passes until the time budget is spent. Queries go through the engine's
  * public entry points only (`SparkEntry.queries`, which reaches
  * `Tables.sql` and the `graft.sqlcompat` rewriters). The run writes raw
  * records (query timings, task/stage events, plan metrics, spans, first
  * results) as one JSON file; `perfbench/run.py` checks the results
  * against DuckDB and computes every metric from the records.
  *
  * Usage: `perfbench.Harness <config file>`, one `key=value` per line.
  */
object Harness {
  final case class Conf(dataDir: String, orders: IndexedSeq[Seq[String]],
    seconds: Double, minWarm: Int, trace: Boolean, cores: Int, out: String,
    spans: String, warehouse: String, localDir: String, kernelSeconds: Double)

  private def readConf(path: String): Conf = {
    val kv = scala.io.Source.fromFile(path).getLines().filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.take(i).trim -> l.drop(i + 1).trim }.toMap
    Conf(kv("data_dir"), kv("orders").split(';').toIndexedSeq.map(_.split(',').toSeq),
      kv("seconds").toDouble, kv("min_warm").toInt, kv("trace") == "1", kv("cores").toInt,
      kv("out"), kv("spans"), kv("warehouse"), kv("local_dir"), kv("kernel_seconds").toDouble)
  }

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private def rel(ns: Long): Double = (ns - baseNs) / 1e9

  private def loadAvg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case _: Throwable => "unavailable" }

  /** Session with `GraftExtensions` + `SessionDefaults`, then the first
    * `Tables.register` on the workload's data. Returns the session and
    * (session seconds, register seconds).
    */
  private def setUp(c: Conf): (SparkSession, Double, Double) = {
    val t0 = System.nanoTime()
    val b = SparkSession.builder().withExtensions(new GraftExtensions)
    if (c.trace) b.withExtensions(CountingParser.extension)
    val spark = SessionDefaults(b.master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", c.warehouse)
      .config("spark.local.dir", c.localDir))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    Tables.register(spark, c.dataDir)
    val t2 = System.nanoTime()
    (spark, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    HeapProbe.install()
    val c = readConf(args(0))
    val loadStart = loadAvg()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // The one cold set-up of this JVM: set-up time is JVM start to ready.
    val (spark, sessionS, registerS) = setUp(c)
    val setup = Map("setup_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3,
      "jvm_s" -> mainS, "session_s" -> sessionS, "register_s" -> registerS)

    val stageProbe = new StageProbe
    spark.sparkContext.addSparkListener(stageProbe)
    val planProbe = new PlanProbe
    if (c.trace) spark.listenerManager.register(planProbe)

    val first = scala.collection.mutable.Map[String, (Seq[String], Array[Row], Rows.Digest)]()
    val executions = ArrayBuffer[Map[String, Any]]()
    val spans = ArrayBuffer[Map[String, Any]]()
    var spanId = 0L
    def span(qid: Long, name: String, parent: Option[Long], t0: Long, t1: Long,
        attrs: Map[String, Any] = Map.empty): Long = {
      spanId += 1
      spans += Map("id" -> spanId, "query_id" -> qid, "name" -> name, "parent" -> parent,
        "start_s" -> rel(t0), "end_s" -> rel(t1)) ++ attrs
      spanId
    }
    var qid = 0L

    def runQuery(pass: Int, kind: String, name: String): Unit = {
      qid += 1
      val traced = kind == "traced"
      val parse0 = (CountingParser.calls.get, CountingParser.chars.get)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1, t2, t3, t4 = 0L
      var rec = Map[String, Any]("query_id" -> qid, "pass" -> pass, "kind" -> kind,
        "name" -> name, "start_ms" -> startMs)
      try {
        val df = SparkEntry.queries(name)(spark, c.dataDir)
        t1 = System.nanoTime()
        if (traced) {
          df.queryExecution.optimizedPlan
          t2 = System.nanoTime()
          df.queryExecution.executedPlan
          t3 = System.nanoTime()
        }
        val rows = df.collect()
        t4 = System.nanoTime()
        rec ++= Map("end_ms" -> System.currentTimeMillis(), "latency_s" -> (t4 - t0) / 1e9,
          "rows" -> rows.length, "ok" -> true)
        val d = Rows.digest(rows)
        first.get(name) match {
          case None => first(name) = (df.columns.toSeq, rows, d)
          case Some((_, _, d0)) =>
            rec ++= Map("same_rows" -> (d.multiset == d0.multiset),
              "same_order" -> (d.ordered == d0.ordered))
        }
        if (traced) {
          val phases = df.queryExecution.tracker.phases.map { case (k, p) => k -> p.durationMs / 1e3 }
          rec ++= Map("submit_s" -> (t1 - t0) / 1e9, "optimize_s" -> (t2 - t1) / 1e9,
            "plan_s" -> (t3 - t2) / 1e9, "execute_s" -> (t4 - t3) / 1e9,
            "phases" -> phases,
            "parse_calls" -> (CountingParser.calls.get - parse0._1),
            "parse_chars" -> (CountingParser.chars.get - parse0._2))
          val root = span(qid, "query", None, t0, t4, Map("query" -> name))
          span(qid, "submit", Some(root), t0, t1,
            Map("parse_calls" -> (CountingParser.calls.get - parse0._1)))
          span(qid, "optimize", Some(root), t1, t2)
          span(qid, "plan", Some(root), t2, t3)
          span(qid, "execute", Some(root), t3, t4, Map("rows" -> rows.length))
        }
      } catch {
        case e: Throwable =>
          rec ++= Map("end_ms" -> System.currentTimeMillis(), "ok" -> false,
            "error" -> (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(2000))
      } finally {
        // Engine-side cleanup of what the query body persisted or staged;
        // outside the timed region.
        CachedPlans.releaseAll()
        TempArtifacts.cleanupAll(spark)
      }
      executions += rec
    }

    val passes = ArrayBuffer[Map[String, Any]]()
    def runPass(kind: String): Unit = {
      val idx = passes.length
      val t0 = System.nanoTime()
      // each pass takes the next seeded permutation, so no one order's
      // cache and JIT effects repeat in every pass of a run
      c.orders(idx % c.orders.length).foreach(q => runQuery(idx, kind, q))
      passes += Map("index" -> idx, "kind" -> kind, "wall_s" -> (System.nanoTime() - t0) / 1e9)
    }

    runPass("cold")
    val warmStart = System.nanoTime()
    var w = 0
    while (w < c.minWarm || (System.nanoTime() - warmStart) / 1e9 < c.seconds) {
      // untraced and traced passes alternate as U T T U, so both kinds see
      // the same JVM age on average
      runPass(if (c.trace && (w % 4 == 1 || w % 4 == 2)) "traced" else "warm")
      w += 1
    }
    stageProbe.drain()

    // Stages become spans under the query phase in which they started.
    if (c.trace) {
      val byQuery = spans.groupBy(_("query_id"))
      stageProbe.stages.asScala.foreach { st =>
        val submitNs = baseNs + (st.submitMs - baseMs) * 1000000L
        val completeNs = baseNs + (st.completeMs - baseMs) * 1000000L
        byQuery.values.iterator.flatMap(_.find { s =>
          s("name") != "query" && rel(submitNs) >= s("start_s").asInstanceOf[Double] - 5e-4 &&
            rel(submitNs) <= s("end_s").asInstanceOf[Double] + 5e-4
        }).nextOption().foreach { parent =>
          span(parent("query_id").asInstanceOf[Long], s"stage ${st.stageId}",
            Some(parent("id").asInstanceOf[Long]), submitNs, completeNs,
            Map("stage_id" -> st.stageId, "tasks" -> st.tasks))
        }
      }
    }

    val kernels = if (c.trace) Kernels.run(spark, c.dataDir, c.kernelSeconds) else Map.empty
    val results = first.map { case (name, (columns, rows, _)) =>
      name -> Map("columns" -> columns,
        "rows" -> rows.toSeq.map(r => r.toSeq.map(Rows.encode)))
    }
    TempArtifacts.cleanupAll(spark, dropTables = true)

    val out = Map(
      "meta" -> Map(
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "cores" -> c.cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "loadavg_start" -> loadStart,
        "loadavg_end" -> loadAvg()),
      "setup" -> setup,
      "passes" -> passes,
      "executions" -> executions,
      "results" -> results,
      "oracle_sql" -> c.orders.head.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "heap_peak_mb" -> HeapProbe.peakBytes / 1e6,
      "tasks" -> stageProbe.tasks.asScala.map(t => Seq(t.stageId, t.launchMs, t.finishMs,
        t.runMs, t.cpuNs, t.gcMs, t.shuffleWriteBytes, t.shuffleReadBytes, t.spillBytes,
        t.outputBytes)),
      "stages" -> stageProbe.stages.asScala.map(s =>
        Seq(s.stageId, s.submitMs, s.completeMs, s.tasks)),
      "jobs" -> stageProbe.jobs.asScala.map(j => Seq(j.startMs, j.endMs)),
      "sql_runs" -> stageProbe.sqlExecs.asScala.map(j => Seq(j.startMs, j.endMs)),
      "sql_execs" -> planProbe.execs.asScala.map(e =>
        Map("start_ms" -> e.plannedMs, "metrics" -> e.metrics)),
      "kernels" -> kernels)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writeValue(new java.io.File(c.out), out)
    if (c.trace) json.writeValue(new java.io.File(c.spans), spans)
    spark.stop()
  }
}
