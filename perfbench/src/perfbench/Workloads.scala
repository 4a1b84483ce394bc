package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkEntry
import graft.streaming.StreamingOps

/** What one entry execution hands back besides its wall time. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val entrySpan: Long, newDir: () => File) {
  /** (triggerExecution ms, input rows) per streaming micro-batch. */
  val batches = mutable.ArrayBuffer[(Double, Long)]()
  /** Rows the entry consumed, for the streaming row rate. */
  var inputRows = 0L
  def dir(): File = newDir()
  def span[T](kind: String, name: String)(body: => T): T =
    tracer.span(spark.sparkContext, entrySpan, kind, name)(body)

  /** Runs a started streaming query to completion under AvailableNow and
    * returns the input rows of each micro-batch. A source that a
    * foreachBatch body scans twice counts its rows twice. */
  def await(q: StreamingQuery): Seq[Long] = {
    tracer.bindRun(q.runId, entrySpan)
    q.awaitTermination()
    val ps = q.recentProgress.toSeq
    batches ++= ps.map(p => (p.durationMs.getOrDefault("triggerExecution", 0L)
      .doubleValue, p.numInputRows))
    ps.map(_.numInputRows)
  }
}

/** One closed-loop unit of work, timed as a whole. */
final case class Entry(name: String, run: Ctx => Unit)

/** An untimed output check, run after the timed passes. `ok` is None when
  * the check is finished outside the JVM (the DuckDB oracle compare). */
final case class Check(name: String, ok: Option[Boolean], rows: Long,
    detail: String)

/** A workload: entry groups whose order a seed may permute (entries inside
  * a group keep their order), plus the checks of its outputs. */
trait Workload {
  def groups: Seq[Seq[Entry]]
  def check(spark: SparkSession, out: File): Seq[Check]
}

object Workloads {
  /** The reference's seven diff queries, as the `Core` pack implements
    * them (the mirror gaps per entity, the daily enrollment add/drop diff,
    * the CTL library course/section gap), and the keyed mirror apply, whose
    * persisted truth table feeds four branches. */
  val relationalSync: Seq[String] = Seq(
    "missing_faculty_users", "missing_student_users", "missing_courses",
    "missing_sections", "daily_enrollment_diff", "ctl_library_missing",
    "mirror_apply")

  def apply(name: String, data: String, inputs: String): Workload =
    name match {
      case "relational_sync" => new BatchWorkload(relationalSync, data)
      case "stream_state" => new StreamWorkload(new File(inputs))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.sorted.map(col).toSeq
    val (x, y) = (a.select(cols: _*), b.select(cols: _*))
    a.columns.sorted.sameElements(b.columns.sorted) &&
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
  }
}

/** `SparkEntry.queries(name)` into a `noop` sink; outputs are checked
  * against the entry's DuckDB oracle. */
final class BatchWorkload(names: Seq[String], data: String) extends Workload {
  def groups: Seq[Seq[Entry]] = names.map(n => Seq(Entry(n, { ctx =>
    val df = ctx.span("build", n)(SparkEntry.queries(n)(ctx.spark, data))
    ctx.span("sink", n)(df.write.format("noop").mode("overwrite").save())
  })))

  def check(spark: SparkSession, out: File): Seq[Check] = names.map { n =>
    SparkEntry.queries(n)(spark, data).coalesce(1)
      .write.mode("overwrite").parquet(new File(out, n).getPath)
    Check(n, None, 0L, "")
  }
}

/** The truncate-reload curation mirror (`StreamingOps`, with its dedup
  * state) over the documents table replayed one seeded file per trigger,
  * and the keyed-dedup state workload under the HDFS-backed and RocksDB
  * state stores, each built and then restarted. */
final class StreamWorkload(inputs: File) extends Workload {
  import Workloads.sameRows

  private val docsDir = new File(inputs, "docs")
  private val docFiles = docsDir.listFiles().filter(_.getName.endsWith(".parquet"))
    .sortBy(_.getName).toSeq
  private val manifest: Map[String, Long] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(inputs, "manifest.json"))
    Seq("docs_rows", "state_build_rows", "state_restart_rows", "state_keys")
      .map(k => k -> m.get(k).asLong).toMap
  }

  private def docStream(spark: SparkSession): DataFrame = {
    val schema = spark.read.parquet(docFiles.head.getPath).schema
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(docsDir.getPath)
  }

  /** Output directory of each entry's most recent execution. */
  private val lastOut = mutable.Map[String, File]()

  private val curate = Entry("curate_mirror", { ctx =>
    val out = new File(ctx.dir(), "mirror")
    val writer = ctx.span("build", "curate_mirror")(StreamingOps
      .overwriteMirrorEachBatch(StreamingOps.curationIngest(docStream(ctx.spark)),
        out.getPath))
    val batches = ctx.span("sink", "curate_mirror")(ctx.await(writer
      .option("checkpointLocation", new File(out.getParentFile, "ckpt").getPath)
      .trigger(Trigger.AvailableNow()).start())).count(_ > 0)
    require(batches == docFiles.size,
      s"curate_mirror read data in $batches micro-batches, expected ${docFiles.size}")
    ctx.inputRows = manifest("docs_rows")
    lastOut("curate_mirror") = out
  })

  private val stateSchema = new org.apache.spark.sql.types.StructType()
    .add("k", "long").add("ts", "timestamp")

  /** Keyed dedup within a 24 h watermark into a parquet sink: a build over
    * the build files, then a restart from the same checkpoint that reads
    * the restart files. */
  private def stateGroup(provider: String): Seq[Entry] = {
    var root: File = null
    def link(kind: String): Unit = {
      val in = new File(root, "in")
      in.mkdirs()
      new File(inputs, s"state_$kind").listFiles().sortBy(_.getName).foreach { f =>
        Files.createLink(new File(in, f.getName).toPath, f.toPath)
      }
    }
    def runOnce(ctx: Ctx, name: String, expectRows: Long): Unit = {
      def start() = ctx.spark.readStream.schema(stateSchema)
        .option("maxFilesPerTrigger", "1").parquet(new File(root, "in").getPath)
        .withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark("k")
        .writeStream.format("parquet")
        .option("path", new File(root, "out").getPath)
        .option("checkpointLocation", new File(root, "ckpt").getPath)
        .trigger(Trigger.AvailableNow()).start()
      val rows = ctx.span("sink", name)(ctx.await(
        if (provider == "rocksdb") StreamingOps.withRocksDbState(ctx.spark)(start())
        else start())).sum
      require(rows == expectRows, s"$name saw $rows input rows, expected $expectRows")
      ctx.inputRows = rows
    }
    val build = s"state_$provider"
    val restart = s"state_${provider}_restart"
    Seq(
      Entry(build, { ctx =>
        root = ctx.dir()
        link("build")
        runOnce(ctx, build, manifest("state_build_rows"))
      }),
      Entry(restart, { ctx =>
        link("restart")
        runOnce(ctx, restart, manifest("state_restart_rows"))
        lastOut(provider) = new File(root, "out")
      }))
  }

  def groups: Seq[Seq[Entry]] = Seq(curate) +: Seq("hdfs", "rocksdb").map(stateGroup)

  def check(spark: SparkSession, out: File): Seq[Check] = {
    // The truncate-reload mirror holds what the last micro-batch emitted:
    // the last file's curated fingerprints that no earlier file had (every
    // ts sits inside the watermark, so dedup state never expires). This is
    // curationIngest's filter and key without its streaming-only dedup.
    def fps(files: Seq[File]) = graft.functions.TextFns
      .withQualityCols(spark.read.parquet(files.map(_.getPath): _*))
      .filter(col("score") >= 0.40)
      .select(graft.functions.TextFns.fingerprint(col("text")).as("fp"))
      .distinct()
    val want = fps(docFiles.takeRight(1)).except(fps(docFiles.dropRight(1)))
    val got = spark.read.parquet(lastOut("curate_mirror").getPath).select("fp")
    val curateOk = sameRows(got, want)
    val curateCheck = Check("curate_mirror", Some(curateOk), got.count(),
      if (curateOk) "" else "curate_mirror differs from the static result")

    val hdfs = spark.read.parquet(lastOut("hdfs").getPath)
    val rocks = spark.read.parquet(lastOut("rocksdb").getPath)
    val keys = manifest("state_keys")
    val counts = Seq("hdfs" -> hdfs, "rocksdb" -> rocks).map { case (p, df) =>
      val r = df.agg(count(lit(1)), countDistinct(col("k"))).head()
      (p, r.getLong(0), r.getLong(1))
    }
    val stateChecks = counts.map { case (p, n, distinct) =>
      val ok = n == keys && distinct == keys
      Check(s"state_$p", Some(ok), n,
        if (ok) "" else s"state_$p emitted $n rows / $distinct keys, expected $keys")
    } :+ {
      val ok = sameRows(hdfs, rocks)
      Check("state_hdfs_vs_rocksdb", Some(ok), counts.head._2,
        if (ok) "" else "HDFS and RocksDB state outputs differ")
    }
    curateCheck +: stateChecks
  }
}
