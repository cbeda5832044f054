package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Summary statistics. A tail is the highest percentile that still has
  * at least ten samples above it; with fewer than 11 samples it is the max. */
object Stats {
  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** (value, percentile, samples) */
  def tail(xs: collection.Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val k = if (s.size < 11) s.size - 1 else s.size - 11
    (s(k), 100.0 * (k + 1) / s.size, s.size)
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** Counts attempted and failed operations and names the first failures. */
final class Outcome {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val notes = new ConcurrentLinkedQueue[String]

  /** Records one operation; `ok = false` counts a failure with its reason. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      if (notes.size < 20) notes.add(what)
    }
    ok
  }

  def failures: Seq[String] = notes.asScala.toSeq
}

final case class Resp(status: Int, body: Array[Byte]) {
  def ok: Boolean = status / 100 == 2
  def text: String = new String(body, java.nio.charset.StandardCharsets.UTF_8)
}

/** Loopback client for the engine's REST edge. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(30)).build()
  private val base = s"http://127.0.0.1:$port"

  def send(method: String, path: String, body: Array[Byte] = null,
           contentType: String = "application/json"): Resp = {
    val b = HttpRequest.newBuilder(URI.create(base + path)).timeout(Duration.ofSeconds(150))
    val pub =
      if (body == null) HttpRequest.BodyPublishers.noBody()
      else HttpRequest.BodyPublishers.ofByteArray(body)
    if (body != null) b.header("Content-Type", contentType)
    val r = client.send(b.method(method, pub).build(), HttpResponse.BodyHandlers.ofByteArray())
    Resp(r.statusCode, r.body)
  }

  def get(path: String): Resp = send("GET", path)
}

final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Spans nest per thread; `root` opens a new
  * trace per unit operation. While `on`, every other root operation is
  * traced and the rest run untraced, so one window yields both latencies
  * under the same warm-up (see [[Tracer.overhead]]). When off, every call
  * just runs its body. Root operations come from one client thread. */
final class Tracer(@volatile var on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  private var turn = 0L
  /** (traced, ms) of every root operation run while `on`, in run order. */
  val rootMs = new ConcurrentLinkedQueue[(Boolean, Double)]

  /** True inside a traced root operation on this thread. */
  def tracing: Boolean = on && stack.get.nonEmpty

  def root[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val traced = turn % 2 == 1
      turn += 1
      val t0 = System.nanoTime()
      try if (traced) open(name, ids.incrementAndGet(), 0L)(body) else body
      finally rootMs.add((traced, Loop.ms(t0)))
    }

  def span[A](name: String)(body: => A): A =
    stack.get match {
      case (trace, parent) :: _ if on => open(name, trace, parent)(body)
      case _ => body
    }

  /** Id of the innermost open span on this thread (0 when none). */
  def current: (Long, Long) = stack.get.headOption.getOrElse((0L, 0L))

  /** Records a span measured elsewhere, under `parent` of `trace`. */
  def add(name: String, trace: Long, parent: Long, startNs: Long, endNs: Long): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, trace, name, startNs, endNs))
    id
  }

  private def open[A](name: String, trace: Long, parent: Long)(body: => A): A = {
    val id = ids.incrementAndGet()
    val saved = stack.get
    stack.set((trace, id) :: saved)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, trace, name, t0, System.nanoTime()))
      stack.set(saved)
    }
  }

  def all: Vector[Span] = spans.asScala.toVector
}

object Tracer {
  /** Tracing overhead of a window of root operations in run order: each
    * traced operation over the mean of the untraced ones right before and
    * after it, so a steady warm-up trend cancels out; the median of those
    * ratios, minus 1. */
  def overhead(ops: Seq[(Boolean, Double)]): Double = {
    val ratios = ops.indices.collect {
      case i if ops(i)._1 && i > 0 && i + 1 < ops.size && !ops(i - 1)._1 && !ops(i + 1)._1 =>
        ops(i)._2 / ((ops(i - 1)._2 + ops(i + 1)._2) / 2)
    }
    require(ratios.nonEmpty, "no traced operation between two untraced ones")
    Stats.median(ratios) - 1
  }

  /** Layer of a span: its name up to the first dot. */
  def layer(name: String): String = name.takeWhile(_ != '.')

  /** Self time of each span (its duration minus the union of its
    * children's intervals), summed per layer, in ns. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupMapReduce(s => layer(s.name)) { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (Long.MinValue, Long.MinValue)
      ivs.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
        else ce = ce max b
      }
      if (ce > cs) covered += ce - cs
      (s.endNs - s.startNs) - covered
    }(_ + _)
  }

  def writeJsonl(spans: Seq[Span], file: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(file))
    try spans.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

final case class JobRec(id: Int, startMs: Long, endMs: Long, stages: Int, tasks: Int,
                        shuffleWriteBytes: Long)

/** Bench-side Spark listener: every job with its stage, task and
  * shuffle-write totals. */
final class SparkJobs(sc: SparkContext) extends SparkListener {
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
  private val done = new ConcurrentLinkedQueue[JobRec]
  sc.addSparkListener(this)

  override def onJobStart(j: SparkListenerJobStart): Unit =
    starts.put(j.jobId, (j.time, j.stageIds))
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val m = s.stageInfo.taskMetrics
    val shuffle = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten
    stageTasks.put(s.stageInfo.stageId, (s.stageInfo.numTasks, shuffle))
  }
  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val (t0, stageIds) = Option(starts.remove(j.jobId)).getOrElse((j.time, Nil))
    val ran = stageIds.flatMap(id => Option(stageTasks.get(id)))
    done.add(JobRec(j.jobId, t0, j.time, ran.size, ran.map(_._1).sum, ran.map(_._2).sum))
  }

  /** Jobs that ended since the last drain. */
  def drain(): Vector[JobRec] = {
    org.apache.spark.GraftSparkShim.flushListenerBus(sc)
    Iterator.continually(done.poll()).takeWhile(_ != null).toVector
  }

  /** Runs `body` alone and returns it with the jobs it scheduled. */
  def counting[A](body: => A): (A, Vector[JobRec]) = {
    drain()
    val r = body
    (r, drain())
  }
}

/** JVM heap peak and GC time over a window. */
final class JvmWindow {
  import java.lang.management.{ManagementFactory, MemoryType}
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum
  pools.foreach(_.resetPeakUsage())
  private val gc0 = gcMs
  def heapPeakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def gcSeconds: Double = (gcMs - gc0) / 1000.0
}

/** Progress lines on stderr, stamped with seconds since JVM start. */
object Log {
  private val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def progress(what: String): Unit =
    System.err.println(f"perfbench: ${(System.currentTimeMillis() - start) / 1000.0}%6.1f s  $what")
}

/** Closed-loop timing helpers. */
object Loop {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Runs `op` back to back until `seconds` have passed and it ran at
    * least `minOps` times; returns each op's latency in ms. */
  def closed(seconds: Double, minOps: Int)(op: Int => Unit): mutable.ArrayBuffer[Double] = {
    val lat = mutable.ArrayBuffer[Double]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < minOps || System.nanoTime() < end) {
      val t0 = System.nanoTime()
      op(i)
      lat += ms(t0)
      i += 1
    }
    lat
  }
}
