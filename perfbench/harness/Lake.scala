package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.GraftTable

/** lake_cdc: a seeded CDC stream into a dynamic-bucket primary-key
  * GraftTable. Each round commits one upsert and one delete batch, then
  * runs point lookups and merge-on-read aggregates; every few rounds it
  * compacts, expires snapshots and reads a retained snapshot back. */
object Lake {
  val Keys = Seq("ship_year", "l_orderkey", "l_linenumber")

  def aggregate(df: DataFrame): Seq[Any] =
    df.agg(count(lit(1)), sum(col("l_quantity")), sum(col("l_orderkey")),
      sum(col("l_linenumber"))).collect().head.toSeq

  def run(ctx: Ctx, out: mutable.Map[String, Any]): Unit = {
    val lake = ctx.plan.get("lake")
    val newest = lake.get("newest_year").asInt
    val options = Map(
      "bucket" -> "-1",
      "dynamic-bucket.target-row-num" -> lake.get("target_rows").asText,
      "manifest.merge-min-count" -> "30")
    var table: GraftTable = null
    var root = ""
    for (rep <- 0 until ctx.plan.get("setup_reps").asInt) {
      // the first repetition is the cold one and counts from the launch
      val t0 = if (rep == 0) ctx.launchS else System.currentTimeMillis() / 1000.0
      val spark = ctx.newSession()
      val base = spark.read.parquet(lake.get("base").asText)
      root = s"${ctx.scratch}/lake-$rep"
      val l0 = System.nanoTime()
      ctx.tracer.span("setup.bulk_load") {
        table = GraftTable.create(spark, root, base.schema, partitionKeys = Seq("ship_year"),
          primaryKeys = Keys, options = options)
        table.append(base)
      }
      val loadS = (System.nanoTime() - l0) / 1e9
      val w0 = System.nanoTime()
      ctx.tracer.span("setup.warmup")(aggregate(table.read()))
      val warmS = (System.nanoTime() - w0) / 1e9
      ctx.setup += Map("total_s" -> (System.currentTimeMillis() / 1000.0 - t0),
        "bulk_load_s" -> loadS, "warmup_s" -> warmS)
      if (rep > 0) deleteTree(new File(s"${ctx.scratch}/lake-${rep - 1}"))
    }
    val spark = ctx.spark
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

    /** (relative path → size) of every file under the table root. */
    def listing(): Map[String, Long] = {
      val it = fs.listFiles(new Path(root), true)
      val b = Map.newBuilder[String, Long]
      val prefix = fs.makeQualified(new Path(root)).toString.stripSuffix("/") + "/"
      while (it.hasNext) {
        val st = it.next()
        b += st.getPath.toString.stripPrefix(prefix) -> st.getLen
      }
      b.result()
    }
    /** Files an operation added (new path or new size) and removed. */
    def diff(before: Map[String, Long], after: Map[String, Long]): Map[String, Any] = {
      val added = after.filter { case (p, n) => !before.get(p).contains(n) }
      def bytes(dirs: Set[String]) =
        added.filter { case (p, _) => dirs(p.takeWhile(_ != '/')) }.values.sum
      Map("added_bytes" -> added.values.sum,
        "meta_bytes" -> bytes(Set("snapshot", "manifest", "index")),
        "data_bytes" -> bytes(Set("data")),
        "data_files" -> added.keys.count(_.startsWith("data/")),
        "removed_files" -> before.keySet.diff(after.keySet).size)
    }
    // A traced run lists the table around traced writes and maintenance,
    // outside the timed calls. Every listing also counts the bytes added
    // since the one before, so write amplification covers the untraced
    // rounds too: only expireSnapshots deletes files, and it is listed.
    var lastListing: Map[String, Long] = if (ctx.tracer.enabled) listing() else null
    var writtenBytes = 0L
    /** Files changed since the previous listing. */
    def relist(): Map[String, Any] = {
      val now = listing()
      val d = diff(lastListing, now)
      writtenBytes += d("added_bytes").asInstanceOf[Long]
      lastListing = now
      d
    }
    /** Sorted runs per (partition, bucket), from `$files`. */
    def runsPerBucket(): Map[String, Double] = {
      val counts = table.system("files").groupBy("partition", "bucket").count()
        .collect().map(_.getLong(2))
      Map("max" -> counts.max.toDouble, "mean" -> counts.sum.toDouble / counts.length)
    }
    def keyFilter(k: Seq[Long]): Column =
      col("ship_year") === k(0).toInt && col("l_orderkey") === k(1) &&
        col("l_linenumber") === k(2).toInt

    val rounds = lake.get("rounds").elements.asScala.toSeq
    val compactEvery = lake.get("compact_every").asInt
    val retain = lake.get("retain").asInt
    val snapshotOfRound = mutable.Map[Int, Long]()
    val t0 = System.nanoTime()
    var r = 0
    while (r < rounds.size &&
        (r < ctx.plan.get("min_passes").asInt || (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
      val round = rounds(r)
      val traced = ctx.tracedPass(r)
      def write(kind: String, path: String)(commit: DataFrame => Any): Unit = {
        val batch = spark.read.parquet(path)
        if (traced) {
          relist()
          val rec = ctx.op(kind, kind, r, traced)(ctx.tracer.span(s"sources.$kind")(commit(batch)))
          rec("files") = relist()
        } else ctx.op(kind, kind, r, traced)(commit(batch))
      }
      write("upsert", round.get("upsert").asText)(b => table.upsert(b))
      write("delete", round.get("delete").asText)(b => table.delete(b))
      snapshotOfRound(r) = table.latestSnapshotId.get

      for (k <- round.get("lookups").elements.asScala.map(_.elements.asScala.map(_.asLong).toSeq)) {
        var splits = -1
        var rows: Array[Row] = Array.empty
        val rec = ctx.op("lookup", "lookup", r, traced) {
          val df = table.read().filter(keyFilter(k))
          rows =
            if (traced) {
              splits = ctx.tracer.span("sources.scan_plan")(df.queryExecution.toRdd.partitions.length)
              ctx.tracer.span("sources.scan_exec")(df.collect())
            } else df.collect()
        }
        rec("key") = k
        rec("rows") = rows.map(rowValues).toSeq
        if (traced) rec("splits") = splits
      }
      def scan(name: String, span: String, traced: Boolean, df: => DataFrame)
          : mutable.Map[String, Any] = {
        val runs = if (traced) runsPerBucket() else null
        var result: Seq[Any] = Nil
        val rec = ctx.op("scan", name, r, traced) {
          result = if (traced) ctx.tracer.span(span)(aggregate(df)) else aggregate(df)
        }
        rec("agg") = result
        if (traced) {
          rec("runs_per_bucket") = runs
          // partitions of the plain read (no exchange, so no job runs)
          rec("splits") = df.queryExecution.toRdd.getNumPartitions
        }
        rec
      }
      scan("full", "sources.scan_exec", traced, table.read())
      scan("partition", "sources.scan_exec", traced,
        table.read(partitionFilter = Some(col("ship_year") === newest)))

      if ((r + 1) % compactEvery == 0) {
        // maintenance is rare, so a traced run traces every occurrence
        val traced = ctx.tracer.enabled
        if (traced) relist()
        val c = ctx.op("compact", "compact", r, traced)(
          if (traced) ctx.tracer.span("sources.compact")(table.compact()) else table.compact())
        if (traced) c("files") = relist()
        val e = ctx.op("expire", "expire", r, traced)(
          if (traced) ctx.tracer.span("sources.expire")(table.expireSnapshots(retain))
          else table.expireSnapshots(retain))
        if (traced) e("files") = relist()
        snapshotOfRound.get(r - 2).foreach { id =>
          scan("timetravel", "sources.timetravel", traced,
            table.read(snapshotId = Some(id)))("as_of_round") = r - 2
        }
      }
      r += 1
    }
    out("measured_s") = (System.nanoTime() - t0) / 1e9
    out("rounds_run") = r
    // co-tenancy sentinel: a fixed CPU-bound job's median wall time
    out("sentinel_s") = Seq.fill(3) {
      val s0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, ctx.cores).selectExpr("sum(id % 7)").collect()
      (System.nanoTime() - s0) / 1e9
    }.sorted.apply(1)

    // end state, untimed: live bytes from $files against bytes on disk,
    // and the merged rows for the model check
    val files = table.system("files")
      .agg(count(lit(1)), sum(col("file_size_in_bytes")), sum(col("record_count")))
      .collect().head
    out("live_files") = files.getLong(0)
    out("live_bytes") = files.getLong(1)
    out("live_rows") = files.getLong(2)
    out("root_bytes") = listing().values.sum
    val finalDir = s"${ctx.scratch}/final"
    table.read().write.mode("overwrite").parquet(finalDir)
    out("final_dir") = finalDir
    if (ctx.tracer.enabled) {
      relist()
      out("written_bytes") = writtenBytes
      // each submitted batch written once in the table's format: the
      // denominator of write amplification
      val once = s"${ctx.scratch}/batch-once"
      out("batch_bytes") = rounds.take(r).map { x =>
        Seq(x.get("upsert").asText, x.get("delete").asText).map { p =>
          spark.read.parquet(p).coalesce(1).write.mode("overwrite").parquet(once)
          new File(once).listFiles.filter(_.getName.endsWith(".parquet")).map(_.length).sum
        }.sum
      }
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def rowValues(row: Row): Seq[Any] = row.toSeq.map {
    case t: java.sql.Timestamp => t.getTime * 1000L
    case v => v
  }
}
