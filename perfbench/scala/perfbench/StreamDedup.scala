package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import org.apache.spark.sql.functions.{coalesce, col}
import org.apache.spark.sql.types.StructType

import graft.DriverHygiene
import graft.queries.LlmQueries
import graft.streaming.{GrowingDedupState, Streaming}

/** Growing-dedup stream over staged document files: they stream with
  * `maxFilesPerTrigger=1` into `Streaming.growingComponentsSink` over one
  * `GrowingDedupState`, so the store's history grows through the run.
  * Each round of the query mix runs one session of the stream over the
  * next staged session directory: round 0 starts on an empty store in the
  * cold JVM; every later session is a restart over the existing store,
  * which compacts it (`GrowingDedupState.compact`) and reconstructs the
  * labeling before its first batch. */
final class StreamDedup(ctx: Ctx) {
  // a scoped session, as the project's stream gates run the growing sink:
  // one shuffle partition and no AQE, whose per-exchange query-stage jobs
  // are pure overhead at micro-batch sizes
  private val spark = {
    val s = ctx.spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    ctx.ledger.attach(s)
    s
  }
  private val rec = ctx.rec
  private val in = s"${ctx.args.data}/stream"
  private val root = s"${ctx.args.work}/stream/store"
  private val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
  /** (session dir, documents in it, input bytes), as run.py staged them. */
  private val sessions = {
    val js = org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(s"$in/sessions.json")))
    js.values.asInstanceOf[List[Map[String, Any]]].map { m =>
      val dir = s"$in/${m("dir")}"
      (dir, m("docs").asInstanceOf[BigInt].toLong, Main.dirStats(Paths.get(dir))._1)
    }.toIndexedSeq
  }
  require(sessions.nonEmpty, s"no staged sessions under $in")
  def sessionCount: Int = sessions.length
  private var inBytesSoFar = 0L
  private var streamed = 0

  /** Session `i` of the stream; returns its timed seconds. Each
    * micro-batch's `triggerExecution` time is recorded as an operation
    * named `r<i>.b<batch>`. */
  def session(i: Int): Double = {
    val (dir, want, inBytes) = sessions(i)
    rec.attempted += 1
    val state = GrowingDedupState(root, epoch = i.toString, autoCompactAfter = 1)
    val filesBefore = if (ctx.ledger.traced) Main.dirStats(Paths.get(root))._2 else 0L
    var docs = 0L
    var batches = 0
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try ctx.ledger.span("streaming") {
      if (i > 0) {
        val tc = System.nanoTime()
        state.compact(spark, 0L)
        rec.sample("streaming.compact_s", (System.nanoTime() - tc) / 1e9)
      }
      val q = Streaming.growingComponentsSink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir),
        state, StreamDedup.MinJaccX1e6)
        .option("checkpointLocation", s"${ctx.args.work}/checkpoints/s$i")
        .start()
      try q.processAllAvailable() finally q.stop()
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      progress.foreach { p =>
        def s(k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1000.0
        rec.op(s"r$i.b${p.batchId}", s("triggerExecution"))
        rec.sample("streaming.add_batch_s", s("addBatch"))
        rec.sample("streaming.wal_commit_s", s("walCommit"))
        docs += p.numInputRows
      }
      if (i > 0) progress.headOption.foreach { p =>
        val committed = Instant.parse(p.timestamp).toEpochMilli +
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        rec.sample("streaming.resume_s", (committed - t0ms) / 1000.0)
      }
      batches = progress.length
    } catch { case scala.util.control.NonFatal(e) =>
      rec.fail(s"stream session $i: ${e.getMessage}")
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (ctx.ledger.traced) {
      state.lastProbeIo.foreach(io =>
        rec.sample("streaming.probe_read_bytes", (io.bandBytes + io.payBytes).toDouble))
      val (bytes, files) = Main.dirStats(Paths.get(root))
      inBytesSoFar += inBytes
      rec.sample("streaming.files_per_batch", (files - filesBefore).toDouble / math.max(1, batches))
      rec.sample("streaming.store_bytes_per_input_byte", bytes.toDouble / inBytesSoFar)
    }
    rec.check(s"stream session $i streamed every document", docs == want,
      s"streamed $docs of $want")
    DriverHygiene.releasePersisted(spark)
    streamed = i + 1
    dt
  }

  /** Output check, outside the rounds: the labels after the last session
    * equal the one-shot pipeline (`dedup_components`) over the documents
    * streamed so far. The one-shot pipeline is timed as an operation of
    * the `dedup` layer. */
  def check(): Unit = {
    val last = streamed - 1
    val labels = GrowingDedupState(root, epoch = last.toString).labels(spark)
    rec.check("stream labels published", labels.isDefined, "no label snapshot")
    labels.foreach { lab =>
      val all = s"$in/upto_$last"
      val got = graft.Tables.documents(spark, all)
        .select(col("doc_id").cast("long").as("doc_id"))
        .join(lab.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).cast("long")
          .as("canonical_id"))
      val t0 = System.nanoTime()
      val want = ctx.ledger.span("dedup") {
        LlmQueries.dedupComponents(spark, all)
          .select(col("doc_id").cast("long"), col("canonical_id").cast("long"))
          .localCheckpoint(true)
      }
      rec.op("reference.dedup_components", (System.nanoTime() - t0) / 1e9)
      val diff = got.exceptAll(want).count() + want.exceptAll(got).count()
      val merged = want.filter(col("doc_id") =!= col("canonical_id")).count()
      rec.check("stream labels equal one-shot dedup_components", diff == 0 && merged > 0,
        s"$diff differing rows, $merged merged documents")
    }
  }
}

object StreamDedup {
  val MinJaccX1e6 = 800000L
}
