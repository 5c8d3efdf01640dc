package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry}

/** One benchmark run of one workload in one JVM: set-up, then a
  * closed loop (one client thread, calls back to back) of whole passes over
  * the workload's keys until the run length is spent. Writes the raw
  * measurements as JSON for `run.py`, which checks outputs and prints the
  * metrics.
  *
  * Args: --workload W --data DIR --warm DIR --seconds S --trace 0|1
  *       --out FILE --spans FILE
  */
object Main {
  final case class Call(id: Long, pass: Int, key: String, startUs: Long, endUs: Long,
      releaseUs: Long, result: Either[String, Sink.Result], stealShare: Double) {
    def seconds: Double = (endUs - startUs) / 1e6
  }
  final case class Pass(index: Int, traced: Boolean, startUs: Long, endUs: Long, probeS: Double,
      stealShare: Double) {
    def wall: Double = (endUs - startUs) / 1e6 - probeS
  }
  final case class Setup(create: Double, warmup: Double, memo: Double)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var lastId = 2L // 1 is the workload's root span, 2 its set-up
  private def nextId(): Long = { lastId += 1; lastId }

  private def timed[T](parent: Long, name: String)(f: => T): (T, Double) = {
    val t0 = Clock.nowUs
    val r = f
    val t1 = Clock.nowUs
    spans += Span(nextId(), parent, name, t0, t1)
    (r, (t1 - t0) / 1e6)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads(opt("workload"))
    val (data, warm) = (opt("data"), opt("warm"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    Speed.probe(n = 400, record = false) // compiles the probe before any sample counts
    val runStart = Clock.nowUs
    val setupJ0 = Steal.sample()

    // Set-up, timed once: session creation, one warm-up pass over the
    // workload's keys on the small sibling, and the named memo builds the
    // keys consume. (Repeating it in the same JVM would time a warm JIT.)
    val (spark, create) = timed(2, "session.create")(GraftSession.create("perfbench"))
    var warmProbeS = 0.0
    val (_, warmAll) = timed(2, "session.warmup") {
      w.keys.foreach { k =>
        spark.sparkContext.setJobDescription(s"setup:warmup:$k")
        val t0 = System.nanoTime()
        Sink.run(SparkEntry.queries(k)(spark, warm))
        GraftSession.releaseCaches(spark)
        println(f"warm-up ${(System.nanoTime() - t0) / 1e9}%9.3f s  $k")
        warmProbeS += Speed.probe()
      }
      spark.sparkContext.setJobDescription(null)
    }
    val warmup = warmAll - warmProbeS
    val (_, memo) = timed(2, "session.memo") {
      Workloads.memos.filter(_._2.exists(w.keys.contains)).foreach { case (name, _, build) =>
        spark.sparkContext.setJobDescription(s"setup:memo:$name")
        build(spark, data)
      }
      spark.sparkContext.setJobDescription(null)
    }
    spans += Span(2, 1, "setup", runStart, Clock.nowUs)
    Speed.probe()
    val setupSteal = Steal.share(setupJ0)
    val setup = Setup(create, warmup, memo)
    println(f"setup: create $create%.3f s, warm-up $warmup%.3f s, memo $memo%.3f s")

    val heap = new HeapWatch
    val steal0 = Steal.sample()
    val calls = mutable.ArrayBuffer.empty[Call]
    val passes = mutable.ArrayBuffer.empty[Pass]
    val trace = new Trace
    var storageBaseBytes = 0L
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9

    def pass(tracedPass: Boolean): Unit = {
      val p = passes.size
      val pid = nextId()
      val pj0 = Steal.sample()
      val t0 = Clock.nowUs
      var probeS = 0.0
      w.keys.foreach { k =>
        val id = nextId()
        spark.sparkContext.setJobDescription(s"bench:$k:$id")
        val j0 = Steal.sample()
        val c0 = Clock.nowUs
        val r = try Right(Sink.run(SparkEntry.queries(k)(spark, data)))
          catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val c1 = Clock.nowUs
        val callSteal = Steal.share(j0)
        spark.sparkContext.setJobDescription(null)
        spans += Span(id, pid, k, c0, c1)
        val (_, rel) = timed(pid, "release")(GraftSession.releaseCaches(spark))
        calls += Call(id, p, k, c0, c1, (rel * 1e6).toLong, r, callSteal)
        println(f"pass $p ${calls.last.seconds}%9.3f s  release $rel%.3f s  $k")
        probeS += Speed.probe()
      }
      val t1 = Clock.nowUs
      spans += Span(pid, 1, s"pass.$p", t0, t1)
      passes += Pass(p, tracedPass, t0, t1, probeS, Steal.share(pj0))
    }

    // Traced runs first run one pass that settles what the small-sibling
    // warm-up left cold, then one pass without listeners: the traced
    // passes' difference to it is the tracing overhead.
    if (traced) {
      pass(tracedPass = false)
      pass(tracedPass = false)
      storageBaseBytes = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
      spark.sparkContext.addSparkListener(trace)
      spark.listenerManager.register(trace)
    }
    do pass(tracedPass = traced) while (elapsed < seconds)
    val stealPct = Steal.since(steal0)
    val peakHeapMb = heap.stop()
    if (traced) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val cores = spark.sparkContext.defaultParallelism
    val env = Seq(
      "spark" -> Json.str(spark.version),
      "heap_mb" -> Json.num(Runtime.getRuntime.maxMemory() / (1024.0 * 1024)),
      "gc" -> Json.str(ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+")),
      "master" -> Json.str(spark.sparkContext.master),
      "cores" -> Json.num(cores),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "steal_pct" -> Json.num(stealPct))
    val layers =
      if (!traced) Seq.empty
      else Layers(trace, calls.filter(c => passes(c.pass).traced).toSeq,
        passes.filter(_.traced).toSeq, setup, cores, storageBaseBytes, peakHeapMb, spans,
        () => nextId())
    spans += Span(1, 0, s"workload.${w.name}", runStart, Clock.nowUs)
    spark.stop()

    val out = Json.obj(
      "workload" -> Json.str(w.name),
      "env" -> Json.obj(env: _*),
      "setup" -> Json.obj("create_s" -> Json.num(setup.create),
        "warmup_s" -> Json.num(setup.warmup), "memo_s" -> Json.num(setup.memo),
        "steal_share" -> Json.num(setupSteal)),
      "passes" -> Json.arr(passes.toSeq.map(p => Json.obj(
        "traced" -> p.traced.toString, "wall_s" -> Json.num(p.wall),
        "steal_share" -> Json.num(p.stealShare)))),
      "calls" -> Json.arr(calls.toSeq.map { c =>
        Json.obj(Seq("key" -> Json.str(c.key), "pass" -> Json.num(c.pass),
          "seconds" -> Json.num(c.seconds), "release_s" -> Json.num(c.releaseUs / 1e6),
          "steal_share" -> Json.num(c.stealShare)) ++
          (c.result match {
            case Right(r) => Seq("rows" -> Json.num(r.rows), "digest" -> Json.str(r.digest))
            case Left(e) => Seq("error" -> Json.str(e))
          }): _*)
      }),
      "peak_heap_mb" -> Json.num(peakHeapMb),
      "speed_ns" -> Json.arr(Speed.recorded.map(Json.num)),
      "layers" -> Json.arr(layers.map { case (n, v, u, base) =>
        Json.obj("name" -> Json.str(n), "value" -> Json.num(v), "unit" -> Json.str(u),
          "base" -> Json.str(base))
      }))
    write(opt("out"), out)
    if (traced) write(opt("spans"), spans.map(s => Json.obj("id" -> Json.num(s.id),
      "parent" -> Json.num(s.parent), "name" -> Json.str(s.name),
      "start_us" -> Json.num(s.startUs), "end_us" -> Json.num(s.endUs))).mkString("\n"))
  }

  private def write(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), s.getBytes("UTF-8"))
}

/** Largest heap occupancy right after a full collection, summed over the
  * heap pools, from the collectors' notifications. (After a young
  * collection the old generation still holds whatever garbage was
  * promoted, so those readings measure GC timing, not occupancy.) */
final class HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, h: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak = math.max(peak, used)
        }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Double = {
    emitters.foreach(_.removeNotificationListener(listener))
    peak / (1024.0 * 1024)
  }
}

/** CPU time the hypervisor took from the machine, from the aggregate line
  * of /proc/stat: steal, all time, and busy time (user, system, interrupts
  * and steal: the time the machine wanted to run). */
final case class Jiffies(steal: Long, total: Long, busy: Long) {
  def -(o: Jiffies): Jiffies = Jiffies(steal - o.steal, total - o.total, busy - o.busy)
}

object Steal {
  def sample(): Jiffies =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong).padTo(8, 0L)
        Jiffies(f(7), f.sum, f(0) + f(1) + f(2) + f(5) + f(6) + f(7))
      } finally src.close()
    } catch { case _: Exception => Jiffies(0L, 0L, 0L) }

  /** Steal as a percentage of all CPU time since `s0`. */
  def since(s0: Jiffies): Double = {
    val d = sample() - s0
    if (d.total > 0) 100.0 * d.steal / d.total else 0.0
  }

  /** Steal as a share of the time the machine wanted to run since `s0`. */
  def share(s0: Jiffies): Double = {
    val d = sample() - s0
    if (d.busy > 0) d.steal.toDouble / d.busy else 0.0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
