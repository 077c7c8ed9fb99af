package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.ops.Dedup

/** `curation_dedup`: back-to-back dedup jobs over the `docs` KFS topic —
  * `Dedup.exactGroups`, then `Dedup.nearDuplicates` (MinHash-LSH with
  * exact Jaccard verify), then `Dedup.dropNearDuplicates`. Every job's
  * outputs go back to the generator, which checks them against its own
  * shingle sets. */
object CurationWorkload {

  def docsFrame(spark: SparkSession, root: String): DataFrame =
    spark.read.format("kfs").option("path", root).load()
      .select(col("_key").cast("string").cast("long").as("doc_id"),
        col("_value").cast("string").as("text"))

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val threshold = ctx.dbl("threshold")
    val (root, refs, buildNs) = ctx.buildRepeated("docs", ctx.segments("docs.tsv"), 3)
    ctx.engine.segmentsByRoot = Map(root -> refs.size.toLong)

    def job(docs: DataFrame): Map[String, Any] = {
      val exact = Trace.span("ops", "exactGroups") {
        Dedup.exactGroups(docs, "doc_id", "text")
          .where(col("n_docs") > 1).collect()
      }
      val pairs = Trace.span("ops", "nearDuplicates") {
        Dedup.nearDuplicates(docs, "doc_id", "text", threshold)
      }
      try {
        val kept = Trace.span("ops", "dropNearDuplicates") {
          Dedup.dropNearDuplicates(docs, "doc_id", pairs)
            .select(col("doc_id")).collect()
        }
        Map(
          "exact" -> exact.map(r => Seq(r.getAs[Long]("keep_id"),
            r.getAs[Long]("n_docs"))).toSeq,
          "pairs" -> pairs.collect().map(r =>
            Seq[Any](r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
          "kept" -> kept.map(_.getLong(0)).toSeq)
      } finally Dedup.release(pairs)
    }

    // warm-up: a fixed number of jobs over a separate corpus of the same
    // size, so the timed jobs start warm and set-up scales with graft
    val warmRoot = ctx.path("warm")
    ctx.writeEstate(warmRoot, ctx.segments("warmup.tsv"))
    val warmDocs = docsFrame(spark, warmRoot)
    (1 to ctx.int("warmup_jobs")).foreach(_ => job(warmDocs))
    ctx.drainListeners()
    val engStart = ctx.engineSnapshot()
    val firstOpNs = System.nanoTime()

    val docs = docsFrame(spark, root)
    val endNs = firstOpNs + (ctx.seconds * 1e9).toLong
    val minJobs = ctx.int("min_jobs")
    val jobs = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    while (System.nanoTime() < endNs || jobs.size < minJobs) {
      val t0 = System.nanoTime()
      val out = Trace.op("bench", "job") { job(docs) }
      jobs += out ++ Map("start_ns" -> t0, "end_ns" -> System.nanoTime())
    }
    ctx.drainListeners()
    val engEnd = ctx.engineSnapshot()

    val layer: Map[String, Any] = if (!ctx.traced) Map.empty else {
      val (listMs, listed) = ctx.listMs(root)
      ctx.decodeRate(refs) ++ Map("kfs.list_ms" -> listMs,
        "kfs.segments_listed" -> listed.toDouble) ++ stages(docs, threshold)
    }
    Map(
      "builds_ns" -> buildNs,
      "first_op_ns" -> firstOpNs,
      "kfs_bytes" -> refs.map(_.sizeBytes).sum,
      "jobs" -> jobs.toSeq,
      "engine_start" -> engStart, "engine_end" -> engEnd,
      "layer" -> layer)
  }

  /** The near-dup stages forced one at a time over persisted inputs:
    * shingling, MinHash signatures, LSH candidates, exact verify. */
  private def stages(docs: DataFrame, threshold: Double): Map[String, Double] = {
    def timed[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = Trace.op("ops", name)(body)
      (v, (System.nanoTime() - t0) / 1e9)
    }
    val sh = Dedup.shinglesAuto(docs, "doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sigs = Dedup.minhashSignatures(sh, 16).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (_, shingleS) = timed("shingle")(sh.count())
      val (_, signatureS) = timed("signature")(sigs.count())
      val cands = Dedup.lshCandidates(Dedup.lshBands(sigs, 4, 4))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val (nCand, _) = timed("candidates")(cands.count())
        val (nVer, verifyS) = timed("verify") {
          Dedup.jaccard(sh, cands).where(col("jac") >= threshold).count()
        }
        Map("ops.shingle_s" -> shingleS, "ops.signature_s" -> signatureS,
          "ops.verify_s" -> verifyS, "ops.candidate_pairs" -> nCand.toDouble,
          "ops.verified_pairs" -> nVer.toDouble,
          "ops.candidate_precision" -> nVer.toDouble / math.max(1L, nCand))
      } finally cands.unpersist()
    } finally { sigs.unpersist(); sh.unpersist() }
  }
}
