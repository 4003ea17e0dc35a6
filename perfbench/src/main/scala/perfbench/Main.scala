package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The benchmark's JVM side: runs one workload's keys in passes on one
  * `local[4]` session with `graft.Bench`'s session confs, and writes the raw
  * measurements as JSON for `run.py`, which turns them into metrics.
  *
  * Usage (run.py builds the command line):
  * {{{
  * perfbench.Main --keys Module.key,... --data DIR --work DIR --seed N
  *   --passes N --setup-rounds K --trace 0|1 --out FILE [--dump DIR]
  * }}}
  *
  * Setup round r points `java.io.tmpdir` at the fresh `<work>/tmp<r>` and
  * runs one pass in registry order, so every round rebuilds the landings
  * the keys write there. `--passes` timed passes follow in the last
  * round's tmpdir, each in a key order drawn from the seed.
  * A full GC between timed passes (outside the timing) starts each pass
  * from the same heap. With `--trace 1` a [[LayerListener]] attributes
  * Spark jobs and stages to the key spans; `--dump` writes each key's
  * output and oracle SQL for `record_reference.py`.
  */
object Main {

  final case class Opts(keys: Seq[(String, String)], data: String,
      work: File, seed: Long, passes: Int, setupRounds: Int,
      trace: Boolean, out: File, dump: Option[File])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --name value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val keys = need("keys").split(",").toSeq.map { mk =>
      val Array(module, key) = mk.split("\\.", 2)
      require(SparkEntry.queries.contains(key), s"unknown key $key")
      module -> key
    }
    Opts(keys, need("data"), new File(need("work")), need("seed").toLong,
      need("passes").toInt, need("setup-rounds").toInt,
      need("trace") == "1", new File(need("out")), m.get("dump").map(new File(_)))
  }

  final case class KeyRun(key: String, t0Ms: Long, t1Ms: Long, t2Ms: Long,
      buildS: Double, execS: Double, digest: String, error: String)

  final case class Pass(index: Int, startMs: Long, endMs: Long,
      wallS: Double, cpuS: Double, gcS: Double, keys: Seq[KeyRun])

  private val threadMx = ManagementFactory.getThreadMXBean

  /** CPU nanoseconds of every live Java thread: the driver, the executor's
    * task threads and Spark's own threads. JIT compiler and GC threads are
    * not Java threads, so JIT warm-up does not leak into a pass's CPU.
    */
  private def threadCpuNs: Map[Long, Long] =
    threadMx.getAllThreadIds.map(id => id -> threadMx.getThreadCpuTime(id))
      .filter(_._2 > 0).toMap

  /** CPU seconds threads spent between two [[threadCpuNs]] readings; a
    * thread that ended in between loses only its share of the interval.
    */
  private def cpuSpent(from: Map[Long, Long], to: Map[Long, Long]): Double =
    to.map { case (id, ns) => ns - from.getOrElse(id, 0L) }.sum / 1e9
  private def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Largest heap in use right after a collection, over every collection
    * since the last [[HeapWatch.reset]].
    */
  object HeapWatch {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
    @volatile private var peak = 0L
    @volatile var armed = false
    def reset(): Unit = { peak = 0L }
    def peakMb: Double = peak / 1048576.0
    def install(): Unit =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter =>
          e.addNotificationListener(new NotificationListener {
            def handleNotification(n: Notification, hb: AnyRef): Unit =
              if (armed && n.getType ==
                  GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
                val info = GarbageCollectionNotificationInfo.from(
                  n.getUserData.asInstanceOf[CompositeData])
                val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                  .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
                if (used > peak) peak = used
              }
          }, null, null)
        case _ =>
      }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val listener = if (o.trace) {
      val l = new LayerListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    HeapWatch.install()

    def runKey(key: String): KeyRun = {
      val t0 = System.nanoTime()
      val t0Ms = System.currentTimeMillis()
      var t1 = t0
      var t1Ms = t0Ms
      var digest = ""
      var error = ""
      try {
        val df = SparkEntry.queries(key)(spark, o.data)
        t1 = System.nanoTime()
        t1Ms = System.currentTimeMillis()
        digest = Digest.of(df).toString
      } catch {
        case e: Throwable =>
          error = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
      }
      // the engine's cache contract: the caller releases operator persists
      spark.catalog.clearCache()
      val t2 = System.nanoTime()
      if (t1 == t0) { t1 = t2; t1Ms = System.currentTimeMillis() }
      KeyRun(key, t0Ms, t1Ms, System.currentTimeMillis(),
        (t1 - t0) / 1e9, (t2 - t1) / 1e9, digest, error)
    }

    def runPass(index: Int, order: Seq[String]): Pass = {
      val c0 = threadCpuNs
      val g0 = gcS
      val startMs = System.currentTimeMillis()
      val w0 = System.nanoTime()
      val keys = order.map(runKey)
      val wall = (System.nanoTime() - w0) / 1e9
      Pass(index, startMs, System.currentTimeMillis(), wall,
        cpuSpent(c0, threadCpuNs), gcS - g0, keys)
    }

    val registryOrder = o.keys.map(_._2)
    val setup = (1 to o.setupRounds).map { r =>
      val tmp = new File(o.work, s"tmp$r")
      tmp.mkdirs()
      System.setProperty("java.io.tmpdir", tmp.getPath)
      val p = runPass(-r, registryOrder)
      (p, dirBytes(tmp))
    }
    o.dump.foreach(dir => dump(spark, o, dir))
    val firstTimedMs = System.currentTimeMillis()
    val rng = new scala.util.Random(o.seed)
    val timed = mutable.ArrayBuffer[Pass]()
    val heapMb = mutable.ArrayBuffer[Double]()
    while (timed.size < o.passes) {
      System.gc()
      HeapWatch.reset()
      HeapWatch.armed = true
      timed += runPass(timed.size + 1, rng.shuffle(registryOrder))
      HeapWatch.armed = false
      heapMb += HeapWatch.peakMb
    }
    listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))

    val sb = new StringBuilder
    sb ++= "{"
    sb ++= s""""session_s":$sessionS,"jvm_start_to_first_pass_s":""" +
      s"${(firstTimedMs - jvmStartMs) / 1e3},"
    sb ++= """"setup":""" + setup.map { case (p, bytes) =>
      s"""{"pass":${passJson(p)},"tmp_bytes":$bytes""" +
        listener.map(l => s""","jobs":${l.jobsIn(p.startMs, p.endMs).size}""")
          .getOrElse("") + "}"
    }.mkString("[", ",", "]") + ","
    sb ++= """"timed":""" + timed.map(passJson).mkString("[", ",", "]") + ","
    sb ++= """"heap_peak_mb":""" + heapMb.mkString("[", ",", "]")
    listener.foreach { l =>
      sb ++= ""","layers":""" + timed.map(p => layersJson(l, p))
        .mkString("[", ",", "]")
      writeSpans(l, o, setup.map(_._1) ++ timed)
    }
    sb ++= "}"
    Files.write(o.out.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def q(s: String): String = graft.JsonFormat.q(s)

  private def passJson(p: Pass): String =
    s"""{"index":${p.index},"wall_s":${p.wallS},"cpu_s":${p.cpuS},""" +
      s""""gc_s":${p.gcS},"keys":""" + p.keys.map { k =>
        s"""${q(k.key)}:{"build_s":${k.buildS},"exec_s":${k.execS},""" +
          s""""digest":${q(k.digest)},"error":${q(k.error)}}"""
      }.mkString("{", ",", "}") + "}"

  /** Per key of one timed pass: its Spark jobs (split by the build/exec
    * boundary), stages, tasks, task CPU, shuffle and spill bytes, and the
    * driver gap, i.e. key wall time no job covers.
    */
  private def layersJson(l: LayerListener, p: Pass): String =
    p.keys.map { k =>
      val jobs = l.jobsIn(k.t0Ms, k.t2Ms)
      val stages = l.stagesIn(k.t0Ms, k.t2Ms)
      val wallMs = k.t2Ms - k.t0Ms
      val gapS = (wallMs - LayerListener.covered(jobs, k.t0Ms, k.t2Ms)) / 1e3
      s"""${q(k.key)}:{"jobs":${jobs.size},""" +
        s""""build_jobs":${jobs.count(_.startMs < k.t1Ms)},""" +
        s""""stages":${stages.size},"tasks":${stages.map(_.tasks).sum},""" +
        s""""task_cpu_s":${stages.map(_.cpuNs).sum / 1e9},""" +
        s""""driver_gap_s":${math.max(gapS, 0.0)},""" +
        s""""shuffle_write_bytes":${stages.map(_.shuffleWrite).sum},""" +
        s""""shuffle_read_bytes":${stages.map(_.shuffleRead).sum},""" +
        s""""spill_bytes":${stages.map(_.spill).sum}}"""
    }.mkString("{", ",", "}")

  /** Spans, one JSON object a line: workload > pass > key > build|exec >
    * Spark job. Every span carries its pass's trace id and its parent's
    * span id; times are epoch milliseconds.
    */
  private def writeSpans(l: LayerListener, o: Opts, passes: Seq[Pass]): Unit = {
    val lines = mutable.ArrayBuffer[String]()
    var next = 0L
    def span(trace: String, parent: Long, name: String, start: Long,
        end: Long, extra: String = ""): Long = {
      next += 1
      lines += s"""{"trace":${q(trace)},"id":$next,"parent":$parent,""" +
        s""""name":${q(name)},"start_ms":$start,"end_ms":$end$extra}"""
      next
    }
    val root = span("workload", 0L, "workload", passes.head.startMs,
      passes.last.endMs)
    passes.foreach { p =>
      val trace = if (p.index < 0) s"setup${-p.index}" else s"pass${p.index}"
      val ps = span(trace, root, trace, p.startMs, p.endMs)
      p.keys.foreach { k =>
        val module = o.keys.find(_._2 == k.key).map(_._1).getOrElse("")
        val ks = span(trace, ps, s"$module.${k.key}", k.t0Ms, k.t2Ms)
        val b = span(trace, ks, "build", k.t0Ms, k.t1Ms)
        val e = span(trace, ks, "exec", k.t1Ms, k.t2Ms)
        l.jobsIn(k.t0Ms, k.t2Ms).foreach { j =>
          span(trace, if (j.startMs < k.t1Ms) b else e, s"job${j.id}",
            j.startMs, j.endMs, s""","job_id":${j.id}""")
        }
      }
    }
    Files.write(new File(o.out.getParentFile, "spans.jsonl").toPath,
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File])
      .map(dirBytes).sum
    else f.length

  /** Reference recording: each key's output as one parquet file set, plus
    * the keys' DuckDB SQL, in the layout `tools/compare.py` reads.
    */
  private def dump(spark: SparkSession, o: Opts, dir: File): Unit = {
    dir.mkdirs()
    o.keys.foreach { case (_, key) =>
      SparkEntry.queries(key)(spark, o.data).coalesce(1).write
        .mode("overwrite").parquet(new File(dir, key).getPath)
      spark.catalog.clearCache()
    }
    val sql = SparkEntry.oracleSql.filter { case (k, _) => o.keys.exists(_._2 == k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.write(new File(dir, "oracle_sql.json").toPath,
      sql.getBytes(StandardCharsets.UTF_8))
  }
}
