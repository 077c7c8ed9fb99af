package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.gov.Governor
import graft.kafsql.{Kafsql, SchemaCol, SegmentInfo, TopicDef, TopicRegistry}
import graft.kfs.KfsLayout
import graft.pgwire.PgWireServer

/** `pgwire_kafsql`: the orders/payments KFS estate served by a
  * `PgWireServer` (with its own `Governor`) to the generator's pg-wire
  * clients. The server runs on its default (live) clock; the estate's
  * timestamps are shifted by (wall clock at launch − the generator's
  * `now_ms`), so the estate ends just before launch. The generator gets the
  * launch clock and checks each LAST answer against every clock reading
  * between sending the query and receiving its answer. */
object PgwireWorkload {

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val anchorMs = System.currentTimeMillis()
    val shiftMs = anchorMs - ctx.param("now_ms").toString.toLong
    val segs = ctx.segments("estate.tsv").map(s => s.copy(records = s.records.map(r =>
      r.copy(timestampMs = r.timestampMs + shiftMs))))
    val partitions = ctx.int("partitions")
    // one root per topic, so a scan's root names its topic
    val built = segs.groupBy(_.topic).map { case (topic, ss) =>
      topic -> ctx.buildRepeated(topic, ss, 3) }
    val buildNs = (0 until 3).map(i => built.values.map(_._3(i)).sum)
    val roots = built.map { case (topic, (root, refs, _)) => topic -> (root, refs) }
    ctx.engine.segmentsByRoot = roots.values.map { case (r, refs) =>
      r -> refs.size.toLong }.toMap
    val schema = Seq(SchemaCol("id", "long", "$.id"),
      SchemaCol("region", "string", "$.region"),
      SchemaCol("amount", "double", "$.amount"))
    val registry = new TopicRegistry(roots.toSeq.sortBy(_._1).map {
      case (topic, (root, _)) =>
        TopicDef(topic,
          s => s.read.format("kfs").option("path", root).load(),
          schemaCols = schema,
          partitions = 0 until partitions,
          segments = Some(_ => KfsLayout.listCompletedCached(root)
            .map(r => SegmentInfo(r.partition, r.baseOffset, r.lastOffset,
              r.lastOffset - r.baseOffset + 1, r.minTsMs, r.maxTsMs,
              r.sizeBytes))))
    })
    val gov = new Governor()
    val server = new PgWireServer(spark, registry, gov, port = 0).start()
    ctx.send(s"READY ${server.boundPort} $anchorMs")

    // the generator warms up over the wire, then brackets the timed window
    ctx.await("MARK_START")
    val govStart = gov.metrics.toMap
    val engStart = ctx.engineSnapshot()
    val sampler = new QueueSampler(gov)
    if (ctx.traced) sampler.start()
    ctx.send("MARKED")
    ctx.await("MARK_END")
    sampler.stop()
    ctx.drainListeners()
    val govEnd = gov.metrics.toMap
    val engEnd = ctx.engineSnapshot()
    ctx.send("MARKED")

    // traced: the generator interleaves each probe's in-process run with
    // its own pg-wire runs of the same text
    val probeTexts = Files.readAllLines(Paths.get(ctx.runDir, "probes.tsv"),
      StandardCharsets.UTF_8).asScala.toSeq.map(_.split("\t", 2))
    val probes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var cmd = ctx.next()
    while (cmd.startsWith("PROBE ")) {
      val i = cmd.stripPrefix("PROBE ").trim.toInt
      probes += probe(ctx, registry, probeTexts(i)(0), probeTexts(i)(1))
      ctx.send(s"PROBED $i")
      cmd = ctx.next()
    }
    require(cmd == "STOP", s"unexpected command $cmd")
    server.stop()
    val layer: Map[String, Any] = if (!ctx.traced) Map.empty else {
      val (listMs, listed) = ctx.listMs(roots("orders")._1)
      ctx.decodeRate(roots.values.flatMap(_._2).toSeq) ++ Map(
        "kfs.list_ms" -> listMs, "kfs.segments_listed" -> listed.toDouble)
    }
    Map(
      "builds_ns" -> buildNs,
      "kfs_bytes" -> roots.values.flatMap(_._2).map(_.sizeBytes).sum,
      "segments" -> roots.map { case (t, (_, refs)) => t -> refs.size },
      "gov_start" -> govStart, "gov_end" -> govEnd,
      "engine_start" -> engStart, "engine_end" -> engEnd,
      "queued_max" -> sampler.max,
      "probes" -> probes,
      "layer" -> layer)
  }

  /** One probe text through the layers one at a time — `Kafsql.parse`,
    * `Kafsql.sql` (plan), collect (exec) — then whole through
    * `Kafsql.governedRows` with a fresh Governor (no cache hit), three
    * rounds each, so the generator can subtract the governed time from the
    * same text's pg-wire latency. */
  private def probe(ctx: Ctx, registry: TopicRegistry,
      template: String, sql: String): Map[String, Any] = {
    def ms(t0: Long) = (System.nanoTime() - t0) / 1e6
    val rounds = (1 to 3).map { _ =>
      val split = Trace.op("bench", s"probe:$template") {
        var t0 = System.nanoTime()
        Trace.span("kafsql", "parse") { Kafsql.parse(sql) }
        val parseMs = ms(t0)
        t0 = System.nanoTime()
        val df = Trace.span("kafsql", "plan") {
          Kafsql.sql(ctx.spark, registry, sql)
        }
        val planMs = ms(t0)
        t0 = System.nanoTime()
        Trace.span("kafsql", "exec") { df.collect() }
        Seq(parseMs, planMs, ms(t0))
      }
      val fresh = new Governor()
      val t0 = System.nanoTime()
      Trace.op("gov", s"governed:$template") {
        Kafsql.governedRows(ctx.spark, registry, fresh, sql)
      }
      split :+ ms(t0)
    }
    Map("template" -> template, "sql" -> sql,
      "parse_ms" -> rounds.map(_(0)), "plan_ms" -> rounds.map(_(1)),
      "exec_ms" -> rounds.map(_(2)), "governed_ms" -> rounds.map(_(3)))
  }
}

/** Highest `Governor.metrics` queue depth seen, polled every millisecond. */
final class QueueSampler(gov: Governor) {
  @volatile private var running = true
  @volatile var max = 0L
  private val t = new Thread(() => {
    while (running) {
      val q = gov.metrics.collectFirst { case ("queued", v) => v }.getOrElse(0L)
      if (q > max) max = q
      Thread.sleep(1)
    }
  })
  t.setDaemon(true)
  def start(): Unit = t.start()
  def stop(): Unit = { running = false; if (t.isAlive) t.join() }
}
