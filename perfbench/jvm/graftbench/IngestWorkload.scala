package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.etl.{IcebergSink, Pipeline}
import graft.kfs.KfsLayout

/** `ingest_upsert`: a KFS→Iceberg v2 upsert lane (`Pipeline.runUpsert`,
  * AvailableNow, with compaction and manifest-rewrite cadences).
  *
  * Phase A drains a backlog with repeated lane calls. Phase B runs an
  * open-loop producer appending segments at a fixed rate, the lane looping
  * back to back, and one reader doing a keyed `IcebergSink.read` of the
  * snapshot that was current when it started. Every lane call reports the
  * source offsets of each batch it committed to the checkpoint, which is how
  * the generator dates each segment's arrival in the table and checks each
  * read against one committed table state. */
object IngestWorkload {

  final case class Call(phase: String, startNs: Long, endNs: Long,
      offsets: String, batches: Seq[(Long, String)], snapshotsAdded: Int,
      maintenanceAdded: Int, dataFiles: Long, deleteFiles: Long, manifests: Long)

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val backlog = ctx.segments("backlog.tsv")
    val stream = ctx.segments("stream.tsv")
    val rate = ctx.dbl("rate_segments_per_s")
    val maxSegs = ctx.int("max_segments_per_trigger")
    val compactEvery = ctx.int("compact_every")
    val maintainEvery = ctx.int("maintain_every")
    val readEveryMs = ctx.dbl("read_every_s") * 1000
    val readKeys = ctx.param("read_keys").asInstanceOf[Seq[Any]].map(_.toString)
    val table = ctx.path("table")
    val ckpt = ctx.path("ckpt")

    def lane(root: String, tbl: String, ck: String): Unit =
      Pipeline.runUpsert(spark, root, tbl, ck,
        maxSegmentsPerTrigger = Some(maxSegs),
        maintainEvery = Some(maintainEvery),
        compactEvery = Some(compactEvery))

    def snapshots(tbl: String): (Int, Int) =
      IcebergSink.load(spark, tbl).map(m => (m.snapshots.size,
        m.snapshots.count(_.operation == "replace"))).getOrElse((0, 0))

    def liveFiles(tbl: String): (Long, Long, Long) =
      if (!ctx.traced || IcebergSink.load(spark, tbl).isEmpty) (0L, 0L, 0L)
      else {
        val files = IcebergSink.metadataTable(spark, tbl, "files")
        (files.where(col("content") === 0).count(),
          files.where(col("content") =!= 0).count(),
          IcebergSink.metadataTable(spark, tbl, "manifests").count())
      }

    val calls = new ConcurrentLinkedQueue[Call]()
    var lastBatch = -1L
    var newest = ""
    def call(phase: String, root: String): Call = {
      val (s0, m0) = snapshots(table)
      val t0 = System.nanoTime()
      Trace.op("etl", s"runUpsert:$phase") { lane(root, table, ckpt) }
      val t1 = System.nanoTime()
      val (s1, m1) = snapshots(table)
      val (d, del, man) = liveFiles(table)
      val batches = committedBatches(ckpt, lastBatch)
      batches.lastOption.foreach { case (id, offsets) =>
        lastBatch = id
        newest = offsets
      }
      val c = Call(phase, t0, t1, newest, batches, s1 - s0, m1 - m0,
        d, del, man)
      calls.add(c)
      c
    }

    // set-up: three builds of the backlog (the last one is drained), then
    // a warm-up lane over a separate small topic
    val (root, backlogRefs, buildNs) = ctx.buildRepeated("backlog", backlog, 3)
    val warm = ctx.segments("warmup.tsv")
    val warmRoot = ctx.path("warm")
    ctx.writeEstate(warmRoot, warm)
    (1 to 2).foreach(_ =>
      lane(warmRoot, ctx.path("warm-table"), ctx.path("warm-ckpt")))
    ctx.drainListeners()
    val engStart = ctx.engineSnapshot()
    val firstOpNs = System.nanoTime()

    // phase A: drain the backlog until a lane call commits nothing
    var drained = false
    var n = 0
    while (!drained && n < 20) {
      drained = call("A", root).snapshotsAdded == 0 && n > 0
      n += 1
    }

    // phase B: open-loop producer, back-to-back lane, periodic reader
    val refs = scala.collection.mutable.Map[(String, Int), Seq[KfsLayout.SegmentRef]]()
    backlogRefs.groupBy(r => (r.topic, r.partition)).foreach { case (k, v) =>
      refs(k) = v }
    val produced = new ConcurrentLinkedQueue[Map[String, Any]]()
    val t0 = System.nanoTime()
    val endNs = t0 + (ctx.seconds * 1e9).toLong
    val intervalNs = (1e9 / rate).toLong
    val producer = new Thread(() => {
      var i = 0
      while (i < stream.size && t0 + i * intervalNs < endNs) {
        val due = t0 + i * intervalNs
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        val s = stream(i)
        val started = System.nanoTime()
        val ref = Trace.op("kfs", "append") {
          val r = Trace.span("kfs", "writeSegment") {
            KfsLayout.writeSegment(root, s.topic, s.partition, s.records)
          }
          val k = (s.topic, s.partition)
          refs(k) = refs(k) :+ r
          Trace.span("kfs", "writeManifest") {
            KfsLayout.writeManifest(root, s.topic, s.partition, refs(k))
          }
          r
        }
        produced.add(Map("segment" -> s.id, "partition" -> s.partition,
          "base_offset" -> ref.baseOffset, "last_offset" -> ref.lastOffset,
          "due_ns" -> due, "start_ns" -> started, "end_ns" -> System.nanoTime()))
        i += 1
      }
    })
    val reads = new ConcurrentLinkedQueue[Map[String, Any]]()
    val readerError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reader = new Thread(() => {
      try {
        var next = System.nanoTime()
        while (System.nanoTime() < endNs) {
          val wait = next - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000)
          next += (readEveryMs * 1e6).toLong
          val startNs = System.nanoTime()
          val before = calls.asScala.filter(_.endNs <= startNs).lastOption
            .map(_.offsets).getOrElse("")
          val snap = IcebergSink.load(spark, table).flatMap(_.currentSnapshotId)
          val rows = Trace.op("etl", "read") {
            IcebergSink.read(spark, table, snap)
              .where(col("key").isin(readKeys: _*))
              .select(col("partition"), col("key"), col("offset"))
              .collect()
          }
          val endRead = System.nanoTime()
          val planMs = if (!ctx.traced) 0.0 else {
            val p0 = System.nanoTime()
            Trace.op("etl", "explainScan") {
              IcebergSink.explainScan(spark, table, snapshotId = snap)
            }
            (System.nanoTime() - p0) / 1e6
          }
          reads.add(Map("start_ns" -> startNs, "end_ns" -> endRead,
            "snapshot" -> snap.getOrElse(-1L), "offsets_before" -> before,
            "plan_ms" -> planMs,
            "rows" -> rows.map(r => Seq(r.getInt(0), r.getString(1), r.getLong(2)))
              .toSeq))
        }
      } catch { case e: Throwable => readerError.set(e) }
    })
    producer.start()
    reader.start()
    while (System.nanoTime() < endNs) call("B", root)
    producer.join()
    reader.join()
    if (readerError.get != null) throw readerError.get
    // drain what the producer left behind, then read the final state
    var tail = 0
    while (tail < 5 && (tail == 0 || calls.asScala.last.snapshotsAdded > 0)) {
      call("drain", root)
      tail += 1
    }
    ctx.drainListeners()
    val engEnd = ctx.engineSnapshot()
    val finalRows = IcebergSink.read(spark, table)
      .select(col("partition"), col("key"), col("offset")).collect()
      .map(r => Seq(r.getInt(0), r.getString(1), r.getLong(2))).toSeq

    val layer: Map[String, Any] = if (!ctx.traced) Map.empty else {
      val (listMs, listed) = ctx.listMs(root)
      val allRefs = KfsLayout.listCompleted(root)
      ctx.decodeRate(allRefs) ++ Map("kfs.list_ms" -> listMs,
        "kfs.segments_listed" -> listed.toDouble)
    }
    Map(
      "builds_ns" -> buildNs,
      "first_op_ns" -> firstOpNs,
      "kfs_bytes" -> backlogRefs.map(_.sizeBytes).sum,
      "calls" -> calls.asScala.toSeq.map(c => Map(
        "phase" -> c.phase, "start_ns" -> c.startNs, "end_ns" -> c.endNs,
        "offsets" -> c.offsets,
        "batches" -> c.batches.map { case (id, o) => Seq(id, o) },
        "snapshots_added" -> c.snapshotsAdded,
        "maintenance_added" -> c.maintenanceAdded,
        "data_files" -> c.dataFiles, "delete_files" -> c.deleteFiles,
        "manifests" -> c.manifests)),
      "produced" -> produced.asScala.toSeq,
      "reads" -> reads.asScala.toSeq,
      "final_rows" -> finalRows,
      "table_bytes" -> dirBytes(new File(table)),
      "engine_start" -> engStart, "engine_end" -> engEnd,
      "layer" -> layer)
  }

  /** Source offsets of every batch the checkpoint has committed with an id
    * above `after`, in id order, each verbatim
    * (`{"topic/partition":next,...}`). */
  private def committedBatches(ckpt: String, after: Long): Seq[(Long, String)] = {
    val ids = Option(new File(ckpt, "commits").list()).getOrElse(Array.empty[String])
      .filter(_.forall(_.isDigit)).map(_.toLong).filter(_ > after).sorted
    ids.toSeq.map(id => id -> Files.readAllLines(Paths.get(ckpt, "offsets", id.toString),
      StandardCharsets.UTF_8).asScala.last)
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}
