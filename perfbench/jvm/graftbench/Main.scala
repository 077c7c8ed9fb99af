package graftbench

import java.io.{BufferedReader, File, InputStreamReader}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession
import graft.kfs.{KfsCodec, KfsLayout}

/** System-under-test process of the benchmark: one workload per launch.
  *
  * {{{
  * java -cp <classes>:<spark jars> graftbench.Main <workload> <run dir> <trace 0|1> <seconds>
  * }}}
  *
  * Inputs come from files the generator wrote into the run dir; results go
  * to `<run dir>/result.json`. Lines starting with `@@` on stdout are the
  * control protocol with the generator process; commands arrive on stdin.
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val Array(workload, runDir, traceFlag, secondsArg) = args
    val ctx = new Ctx(runDir, traceFlag == "1", secondsArg.toDouble)
    val result = workload match {
      case "pgwire_kafsql" => PgwireWorkload.run(ctx)
      case "ingest_upsert" => IngestWorkload.run(ctx)
      case "curation_dedup" => CurationWorkload.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.finish(result)
    ctx.spark.stop()
  }
}

/** Shared state of one run: session, listener, control channel, params. */
final class Ctx(val runDir: String, val traced: Boolean, val seconds: Double) {
  private val stdin = new BufferedReader(new InputStreamReader(System.in,
    StandardCharsets.UTF_8))

  val params: Map[String, Any] = Main.json.readValue(
    new File(runDir, "params.json"), classOf[Map[String, Any]])

  def param(k: String): Any = params.getOrElse(k,
    throw new IllegalArgumentException(s"missing param $k"))
  def int(k: String): Int = param(k).toString.toDouble.toInt
  def dbl(k: String): Double = param(k).toString.toDouble

  Trace.enabled = traced
  val cores: Int = int("cores")
  val spark: SparkSession = GraftSession.local(s"local[$cores]", cores)
  val engine = new EngineListener
  spark.sparkContext.addSparkListener(engine)
  spark.listenerManager.register(engine)
  Trace.install(spark.sparkContext)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  def send(line: String): Unit = synchronized {
    System.out.println(s"@@ $line")
    System.out.flush()
  }

  /** The generator's next command. */
  def next(): String = {
    val line = stdin.readLine()
    if (line == null) throw new IllegalStateException("stdin closed")
    line.trim
  }

  /** Block until the generator sends `cmd`. */
  def await(cmd: String): Unit = while (next() != cmd) ()

  def path(name: String): String = new File(runDir, name).getAbsolutePath

  /** Records of `file` (tab-separated: topic, partition, offset, ts_ms,
    * key, value), grouped into segments by the `segment` column. */
  def segments(file: String): Seq[Seg] = {
    val lines = Files.readAllLines(Paths.get(runDir, file), StandardCharsets.UTF_8)
    lines.asScala.iterator.map { l =>
      val f = l.split("\t", 7)
      (f(0).toInt, f(1), f(2).toInt, KfsCodec.Record(f(3).toLong, f(4).toLong,
        f(5).getBytes(StandardCharsets.UTF_8),
        f(6).getBytes(StandardCharsets.UTF_8), Nil))
    }.toSeq.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, rs) =>
      Seg(id, rs.head._2, rs.head._3, rs.map(_._4))
    }
  }

  /** Write segments the way a broker flush does (`KfsLayout.writeSegment`
    * then the partition manifest), timing each append as a `kfs` span. */
  def writeEstate(root: String, segs: Seq[Seg]): Seq[KfsLayout.SegmentRef] = {
    val refs = segs.map { s =>
      Trace.span("kfs", "writeSegment") {
        KfsLayout.writeSegment(root, s.topic, s.partition, s.records)
      }
    }
    refs.groupBy(r => (r.topic, r.partition)).foreach { case ((t, p), rs) =>
      Trace.span("kfs", "writeManifest") { KfsLayout.writeManifest(root, t, p, rs) }
    }
    refs
  }

  /** Build `segs` `times` times into fresh roots; returns the last root and
    * every build's wall time (setup is reported as their median). */
  def buildRepeated(name: String, segs: Seq[Seg], times: Int)
      : (String, Seq[KfsLayout.SegmentRef], Seq[Long]) = {
    var last: (String, Seq[KfsLayout.SegmentRef]) = null
    val walls = (1 to times).map { i =>
      val root = path(s"$name-$i")
      val t0 = System.nanoTime()
      last = (root, writeEstate(root, segs))
      System.nanoTime() - t0
    }
    (last._1, last._2, walls)
  }

  /** Single-threaded `KfsCodec.decodeSegmentStream` over every segment:
    * (bytes, records, ns) of the fastest of three passes. */
  def decodeRate(refs: Seq[KfsLayout.SegmentRef]): Map[String, Double] = {
    def pass(): (Long, Long, Long) = {
      var bytes = 0L; var recs = 0L
      val t0 = System.nanoTime()
      refs.foreach { r =>
        val f = new File(new java.net.URI(r.path))
        val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
          new java.io.FileInputStream(f), 1 << 16))
        try {
          KfsCodec.decodeSegmentStream(in, f.length()).foreach(_ => recs += 1)
        } finally in.close()
        bytes += f.length()
      }
      (bytes, recs, System.nanoTime() - t0)
    }
    val passes = (1 to 3).map(_ => pass()).sortBy(_._3)
    val (bytes, recs, ns) = passes(1)
    Map("kfs.decode_mb_per_s" -> bytes / 1e6 / (ns / 1e9),
      "kfs.bytes_per_record" -> bytes.toDouble / math.max(1L, recs))
  }

  /** Median wall of an uncached `KfsLayout.listCompleted` over `root`. */
  def listMs(root: String): (Double, Int) = {
    val runs = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      val n = KfsLayout.listCompleted(root).size
      ((System.nanoTime() - t0) / 1e6, n)
    }
    (runs.map(_._1).sorted.apply(2), runs.head._2)
  }

  /** Engine counters as of now, for a before/after window. */
  def engineSnapshot(): Map[String, Double] = Map(
    "jobs" -> engine.jobsDone.get.toDouble,
    "tasks" -> engine.tasksDone.get.toDouble,
    "executor_run_ms" -> engine.executorRunMs.get.toDouble,
    "shuffle_bytes" -> engine.shuffleBytes.get.toDouble,
    "spill_bytes" -> engine.spillBytes.get.toDouble,
    "gc_ms" -> gcMs.toDouble,
    "queries" -> engine.queries.get.toDouble,
    "plan_ms" -> engine.planNs.get / 1e6,
    "exec_ms" -> engine.execNs.get / 1e6,
    "kfs_scans" -> engine.kfsScans.get.toDouble,
    "kfs_opened" -> engine.kfsOpened.get.toDouble,
    "kfs_listed" -> engine.kfsListed.get.toDouble)

  def drainListeners(): Unit =
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  def finish(result: Map[String, Any]): Unit = {
    drainListeners()
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8)
    val hwmKb = "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(status)
      .map(_.group(1).toLong).getOrElse(-1L)
    val out = result ++ Map(
      "peak_rss_mb" -> hwmKb / 1024.0,
      "jvm_version" -> System.getProperty("java.vm.version"),
      "spark_version" -> spark.version,
      "spark_local_dir" -> sys.env.getOrElse("SPARK_LOCAL_DIRS",
        spark.conf.getOption("spark.local.dir").getOrElse("")),
      "spans" -> (if (traced) Trace.all.map(Trace.toJson) else Nil))
    val tmp = new File(runDir, "result.json.tmp")
    Main.json.writeValue(tmp, out)
    Files.move(tmp.toPath, Paths.get(runDir, "result.json"))
    send("DONE")
  }
}

final case class Seg(id: Int, topic: String, partition: Int,
    records: Seq[KfsCodec.Record])
