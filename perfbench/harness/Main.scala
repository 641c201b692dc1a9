package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.{Engine, EngineCounters, Tracer}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness: drives graft through its public entry points
  * (`SparkEntry.queries`, `GraftTable`, `graft.functions`) as one
  * closed-loop client, and writes raw samples as JSON for `run.py`.
  *
  * Usage: Main <plan.json> <result.json>
  */
object Main {
  val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val ctx = new Ctx(plan)
    val out = mutable.LinkedHashMap[String, Any]()
    try {
      plan.get("workload").asText match {
        case "sweep" => Sweep.run(ctx, out)
        case "lake" => Lake.run(ctx, out)
      }
    } finally {
      out("ops") = ctx.ops
      out("setup") = ctx.setup
      out("env") = ctx.env()
      out("jvm") = ctx.jvmStats()
      mapper.writeValue(new File(args(1)), out)
      if (ctx.tracer.enabled)
        mapper.writeValue(new File(plan.get("span_file").asText), ctx.tracer.spans.map(s =>
          Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
            "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      ctx.stop()
    }
  }
}

/** Run state shared by the workloads: the session, the tracer, the
  * engine listener and the list of timed operations. */
final class Ctx(val plan: JsonNode) {
  val cores: Int = plan.get("cores").asInt
  val seconds: Double = plan.get("seconds").asDouble
  val scratch: String = plan.get("scratch").asText
  val tracer = new Tracer(plan.get("trace").asBoolean)
  val counters = new EngineCounters
  val ops = ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  val setup = ArrayBuffer.empty[Map[String, Double]]
  private var session: SparkSession = _

  def spark: SparkSession = session

  def str(k: String): String = plan.get(k).asText
  def strs(k: String): Seq[String] = plan.get(k).elements.asScala.map(_.asText).toSeq

  /** A fresh local session configured as graft.Bench configures its own;
    * scratch paths keep the warehouse, shuffle files and metastore out of
    * the working tree. */
  def newSession(): SparkSession = {
    stop()
    session = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    if (tracer.enabled) session.sparkContext.addSparkListener(counters)
    session
  }

  def stop(): Unit = {
    if (session != null) session.stop()
    session = null
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Time one operation. Traced runs also record its span, its engine
    * counter deltas and the time no job covered. */
  def op(kind: String, name: String, pass: Int, traced: Boolean)(body: => Any)
      : mutable.LinkedHashMap[String, Any] = {
    val rec = mutable.LinkedHashMap[String, Any](
      "id" -> ops.size, "kind" -> kind, "name" -> name, "pass" -> pass, "traced" -> traced)
    tracer.op = ops.size
    // the listener counts only between these drains, so untraced
    // operations pay no counting
    val before = if (traced) {
      Engine.drain(spark.sparkContext)
      counters.active = true
      counters.snapshot()
    } else null
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      if (traced) tracer.span(s"op.$kind")(body) else body
      rec("ok") = true
    } catch {
      case e: Throwable =>
        rec("ok") = false
        rec("error") = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    rec("wall_s") = (System.nanoTime() - t0) / 1e9
    if (traced) {
      val w1 = System.currentTimeMillis()
      Engine.drain(spark.sparkContext)
      val after = counters.snapshot()
      counters.active = false
      rec("counters") = after.map { case (k, v) => k -> (v - before(k)) }
      rec("idle_ms") = (w1 - w0) - counters.jobCoveredMs(w0, w1)
    }
    tracer.op = -1
    ops += rec
    rec
  }

  /** The first `warm_passes` passes warm up: their answers are checked,
    * their times not counted. A traced run leaves them untraced, then
    * traces passes in the order T U U T T U U T ..., so one run gives
    * both the per-layer numbers and the tracing overhead, and a drift in
    * speed over the run weighs on both sides alike. */
  def tracedPass(pass: Int): Boolean = {
    val p = pass - plan.get("warm_passes").asInt
    tracer.enabled && p >= 0 && ((p + 1) / 2) % 2 == 0
  }

  /** Wall-clock seconds at which the cold set-up starts: the harness's
    * launch, so it includes JVM start. */
  def launchS: Double = plan.get("launch_ms").asDouble / 1000.0

  def env(): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "cores" -> cores,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "java" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "scala" -> scala.util.Properties.versionNumberString)

  def jvmStats(): Map[String, Any] = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    Map("heap_peak_mb" -> heapPeak / 1048576.0, "gc_s" -> gcMs / 1000.0)
  }
}

/** Query sweeps: every pass runs each listed declared query once, timed
  * as graft.Bench times it (`fn` through `queryExecution.toRdd.count()`),
  * in a seeded order. */
object Sweep {
  def run(ctx: Ctx, out: mutable.Map[String, Any]): Unit = {
    val queries = ctx.strs("queries")
    val orders = ctx.plan.get("orders").elements.asScala.map(_.elements.asScala.map(_.asText).toSeq).toSeq
    val dir = ctx.str("data")
    val warm = ctx.str("warmup_query")
    // set-up, repeated: a fresh session, then one warm-up query; the first
    // repetition is the cold one and counts from the harness's launch
    for (rep <- 0 until ctx.plan.get("setup_reps").asInt) {
      val t0 = if (rep == 0) ctx.launchS else System.currentTimeMillis() / 1000.0
      ctx.newSession()
      val w0 = System.nanoTime()
      ctx.tracer.span("setup.warmup")(
        graft.SparkEntry.queries(warm)(ctx.spark, dir).queryExecution.toRdd.count())
      ctx.setup += Map("total_s" -> (System.currentTimeMillis() / 1000.0 - t0),
        "warmup_s" -> (System.nanoTime() - w0) / 1e9)
    }

    // correctness pass, untimed: each query's result for the oracle. It
    // also leaves every query's code paths warm for the timed passes.
    val res = s"${ctx.scratch}/results"
    val c0 = System.nanoTime()
    // a query that fails here leaves no result, which the check reports
    for (name <- queries)
      try graft.SparkEntry.queries(name)(ctx.spark, dir).coalesce(1)
        .write.mode("overwrite").parquet(s"$res/$name")
      catch { case e: Exception => System.err.println(s"[perfbench] $name failed: $e") }
    out("check_pass_s") = (System.nanoTime() - c0) / 1e9
    out("results_dir") = res
    out("oracle") = queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap

    val t0 = System.nanoTime()
    var pass = 0
    while (pass < orders.size &&
        (pass < ctx.plan.get("min_passes").asInt || (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
      val traced = ctx.tracedPass(pass)
      for (name <- orders(pass)) {
        val fn = graft.SparkEntry.queries(name)
        ctx.op("query", name, pass, traced) {
          if (traced) {
            val df = ctx.tracer.span("operators.build")(fn(ctx.spark, dir))
            ctx.tracer.span("plans.plan")(df.queryExecution.executedPlan)
            ctx.tracer.span("operators.exec")(df.queryExecution.toRdd.count())
          } else fn(ctx.spark, dir).queryExecution.toRdd.count()
        }
      }
      pass += 1
    }
    out("measured_s") = (System.nanoTime() - t0) / 1e9
    // co-tenancy sentinel: q_string's median wall time, untimed
    out("sentinel_s") = Seq.fill(3) {
      val s0 = System.nanoTime()
      graft.SparkEntry.queries("q_string")(ctx.spark, dir).queryExecution.toRdd.count()
      (System.nanoTime() - s0) / 1e9
    }.sorted.apply(1)

    if (ctx.tracer.enabled)
      out("functions") = Functions.probe(ctx, dir)
  }
}

/** Expression cost of graft.functions in isolation: a noop-sink
  * projection of the function minus the same projection of its input
  * alone, per input row. */
object Functions {
  import org.apache.spark.sql.functions._
  import graft.functions._

  def probe(ctx: Ctx, dir: String): Map[String, Double] = {
    val spark = ctx.spark
    // inputs replicated to ~50k rows, so per-row cost outweighs the
    // fixed cost of the noop job
    def replicate(df: DataFrame, times: Int) =
      df.crossJoin(spark.range(times).select(col("id").as("rep")))
    val docs = replicate(graft.Tables.documents(spark, dir), 10)
      .select((col("doc_id") * 10 + col("rep")).as("doc_id"), col("text"))
      .localCheckpoint(true)
    val embs = replicate(graft.Tables.embeddings(spark, dir), 25)
      .select((col("vec_id") * 25 + col("rep")).as("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("ord", (col("v").getItem(0) * 1e9).cast("long"))
      .localCheckpoint(true)
    val nDocs = docs.count().toDouble
    val nEmbs = embs.count().toDouble
    val words = Text.words(col("text"))
    def sink(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def cost(rows: Double, input: => DataFrame, withFn: => DataFrame): Double = {
      val ts = (0 until 3).map(_ => (sink(withFn), sink(input)))
      val fnS = ts.map(_._1).sorted.apply(1)
      val inS = ts.map(_._2).sorted.apply(1)
      (fnS - inS) / rows * 1e9
    }
    val probes = Seq(
      "shingles3" -> (() => cost(nDocs, docs.select(words.as("w")),
        docs.select(ShingleExpr.shingles3(words).as("s")))),
      "simHash" -> (() => cost(nDocs, docs.select(words.as("w")),
        docs.select(HashExpr.simHashWords(words).as("s")))),
      "md5Bits60" -> (() => cost(nDocs, docs.select(col("text")),
        docs.select(BitsExpr.md5Bits60(col("text")).as("s")))),
      "textStats" -> (() => cost(nDocs, docs.select(col("text")),
        docs.select(TextStatsExpr.textStats(col("text")).as("s")))),
      "dot" -> (() => cost(nEmbs, embs.select(col("v")),
        embs.select(VectorExpr.dot(col("v"), col("v")).as("s")))),
      "minNSummary" -> (() => cost(nEmbs,
        embs.groupBy(col("label")).agg(count(col("ord")).as("s")),
        embs.groupBy(col("label")).agg(
          MinNAgg.minNSummary(col("ord"), col("vec_id"), col("vec_id"), 10).as("s")))))
    probes.map { case (k, f) => k -> ctx.tracer.span(s"functions.$k")(f()) }.toMap
  }
}
