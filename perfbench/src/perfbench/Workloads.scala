package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.api.HttpApi
import graft.codec.{Codec, JsonCodec}
import graft.core._
import graft.lens.{Lens, LensHub}
import graft.store.Store

/** Everything a workload shares with the entry point: session, seed, run
  * directory, tracer and the failure counter. */
final class Ctx(val spark: SparkSession, val seed: Long, val runDir: Path,
                val tracer: Tracer, val outcome: Outcome) {
  def dir(name: String): Path = runDir.resolve(name)
}

/** The three lens maps, as user JavaScript sent over the wire. */
object Maps {
  val Tags = "for (const tag of data.tags) output(tag, new Set([path.recordID]))"
  val Words =
    """async function tok(t) { return t.toLowerCase().split(/[^a-z0-9]+/).filter(s => s.length > 0) }
      |async function run() {
      |  const toks = await tok(data.body)
      |  for (const t of toks) output(t, 1)
      |}
      |run()
      |""".stripMargin
  val TagSizes = "output(String(data.size), new Set([path.recordID]))"

  def config(name: String, input: String, code: String): Array[Byte] =
    JsonCodec.encode(PoObj(
      "author" -> PoStr("bench"), "name" -> PoStr(name),
      "inputs" -> PoArr(Vector(PoStr(input))),
      "mapType" -> PoStr("javascript"), "code" -> PoStr(code)))
}

/** A store under the run directory served by `HttpApi` on loopback.
  * Commit markers (for traced runs) are registered before the server's
  * change log and any `LensHub`, so they fire first on every commit. */
final class Server(ctx: Ctx, name: String) {
  import Server.LensTimeoutMs

  val root: Path = ctx.dir(name)
  val store = new Store(ctx.spark, root.toString)
  val marks = new ConcurrentLinkedQueue[(String, Long)]
  store.onCommit((p, _) => if (ctx.tracer.on) marks.add((p.collectionPath, System.nanoTime())))
  val api: HttpApi = new HttpApi(store, lensTimeoutMs = LensTimeoutMs).start()
  val http = new Http(api.boundPort)

  def createDataset(n: String): Unit = store.dataset("bench", n).create()

  /** `PUT /datasets/bench:docs/import`, merge or overwrite. */
  def importDocs(bytes: Array[Byte], overwrite: Boolean): Resp =
    http.send("PUT", s"/datasets/bench:docs/import?filename=docs.jsonl&overwrite=$overwrite",
      bytes, "application/jsonlines")

  def createLens(name: String, input: String, code: String): Resp =
    http.send("PUT", "/lenses/create", Maps.config(name, input, code))

  def exportJsonl(path: String): Resp = http.get(s"$path/export/flat-file.jsonl")

  /** The lens's last-build log must hold no captured map error. */
  def lensLogsClean(lens: String): Boolean = {
    val r = http.get(s"/lenses/bench:$lens/logs")
    r.ok && (JsonCodec.decode(r.body) match {
      case PoArr(items) => items.isEmpty
      case _ => false
    })
  }

  /** Turns the markers taken while a request ran into child spans of it:
    * each interval between two markers is named after the commit that
    * closes it, the last one is the response. */
  def markSpans(trace: Long, parent: Long, t0: Long, t1: Long): Unit = {
    val ms = marks.asScala.filter(m => m._2 >= t0 && m._2 <= t1).toVector.sortBy(_._2)
    marks.clear()
    var from = t0
    ms.foreach { case (p, t) =>
      val layer = if (p.startsWith("/lenses/")) s"lens.build.${p.drop(p.indexOf(':') + 1)}" else "store.commit"
      ctx.tracer.add(layer, trace, parent, from, t)
      from = t
    }
    if (ms.nonEmpty) ctx.tracer.add("api.respond", trace, parent, from, t1)
  }

  /** A request as a traced span, with marker children. Only for a single
    * client: with concurrent requests the markers cannot be told apart. */
  def traced(name: String)(req: => Resp): Resp =
    if (!ctx.tracer.tracing) req
    else ctx.tracer.span(name) {
      val (trace, id) = ctx.tracer.current
      marks.clear()
      val t0 = System.nanoTime()
      val r = req
      markSpans(trace, id, t0, System.nanoTime())
      r
    }

  def close(): Unit = {
    api.stop()
    Disk.rmTree(root)
  }
}

object Server {
  /** Sandboxed map-call budget. Generous, so a GC pause never turns into
    * a dropped record; the sandbox's polling cost does not depend on it. */
  val LensTimeoutMs = 10000L
}

/** One window of closed-loop operations. `latMs` holds one latency per
  * unit operation; `rate` is the workload's work rate per second. */
final case class Window(latMs: Seq[Double], rate: Double, wallS: Double)

trait Workload {
  /** Builds the fixture: everything before the first timed operation. */
  def setup(): Unit
  def window(seconds: Double): Window
  /** End-of-run checks against the model. */
  def verify(): Unit
  def close(): Unit
  /** What one unit operation is, and what `rate` counts. */
  def unitOp: String
}

object Workload {
  def decodeAs(ext: String, body: Array[Byte]): PoValue =
    Codec.byExtension(ext).getOrElse(sys.error(s"no codec .$ext")).decode(body)

  /** Parses a jsonl export into id -> data. */
  def exported(r: Resp): Map[String, PoValue] =
    r.text.split('\n').iterator.filter(_.nonEmpty).map { line =>
      JsonCodec.decodeString(line) match {
        case PoObj(f) => (f("id") match { case PoStr(s) => s; case o => o.toString }) -> f.getOrElse("data", PoNull)
        case other => sys.error(s"export line is not an object: $other")
      }
    }.toMap

  def setsEqual(got: Map[String, PoValue], want: Map[String, Set[String]]): Boolean =
    got.keySet == want.keySet && want.forall { case (k, v) => got(k) == DocModel.setValue(v) }
}

/** Bulk import, full sandboxed rebuild of two lenses, flat-file export. */
final class BulkBuild(ctx: Ctx, docs: Int, warmCycles: Int) extends Workload {
  /** Cycles keep speeding up for a few cycles after start-up; every window
    * holds at least this many, so it always samples the same stretch. */
  private val MinCycles = 5
  val unitOp = "cycle: import (overwrite) + full rebuild of tags and words + 3 jsonl exports"
  private val corpus = new Corpus(ctx.seed)
  private val base: Vector[Doc] = Vector.tabulate(docs)(i => corpus.doc(i.toLong))
  private val model = new DocModel
  private var srv: Server = _
  private var cycle = 0

  /** The corpus as cycle `c` imports it: every `n` changes, tags and
    * bodies do not, so each import rewrites every record. */
  private def cycleDocs(c: Int): Vector[(String, Doc)] =
    base.zipWithIndex.map { case (d, i) => Corpus.id(i) -> d.copy(n = c.toLong * docs + i) }

  def setup(): Unit = {
    srv = new Server(ctx, "store")
    srv.createDataset("docs")
    val first = cycleDocs(0)
    first.foreach { case (id, d) => model.put(id, d) }
    ctx.outcome.check(srv.importDocs(Corpus.jsonl(first), overwrite = true).ok, "initial import")
    ctx.outcome.check(srv.createLens("tags", "/datasets/bench:docs", Maps.Tags).status == 303, "create tags")
    ctx.outcome.check(srv.createLens("words", "/datasets/bench:docs", Maps.Words).status == 303, "create words")
    (0 until warmCycles).foreach(_ => runCycle())
  }

  /** One cycle, checked against the model; returns (request ns, rebuild ns). */
  private def runCycle(): (Long, Long) = {
    cycle += 1
    val next = cycleDocs(cycle)
    val bytes = Corpus.jsonl(next)
    next.foreach { case (id, d) => model.put(id, d) }
    var opNs, buildNs = 0L
    def timed(name: String)(req: => Resp): Resp = {
      val t0 = System.nanoTime()
      val r = srv.traced(name)(req)
      opNs += System.nanoTime() - t0
      r
    }
    val exports = ctx.tracer.root("client.cycle") {
      ctx.outcome.check(timed("api.import")(srv.importDocs(bytes, overwrite = true)).ok, s"import cycle $cycle")
      val b0 = opNs
      for ((lens, code) <- Seq("tags" -> Maps.Tags, "words" -> Maps.Words))
        ctx.outcome.check(timed("api.configure")(srv.http.send("PUT", s"/lenses/bench:$lens/configuration",
          Maps.config(lens, "/datasets/bench:docs", code))).status == 204, s"rebuild $lens")
      buildNs = opNs - b0
      Seq("/datasets/bench:docs", "/lenses/bench:tags", "/lenses/bench:words")
        .map(p => timed("api.export")(srv.exportJsonl(p)))
    }
    Log.progress(f"cycle $cycle: ${opNs / 1e6}%.0f ms")
    val Seq(ds, tags, words) = exports
    val got = Workload.exported(ds)
    ctx.outcome.check(ds.ok && got.size == model.docs.size &&
      model.docs.forall { case (id, d) => got.get(id).contains(d.value) }, s"dataset export cycle $cycle")
    ctx.outcome.check(tags.ok && Workload.setsEqual(Workload.exported(tags), model.tagIndex),
      s"tags export cycle $cycle")
    ctx.outcome.check(words.ok && Workload.exported(words) == model.wordCounts.map { case (k, v) => k -> PoInt(v) },
      s"words export cycle $cycle")
    (opNs, buildNs)
  }

  def window(seconds: Double): Window = {
    val lat = mutable.ArrayBuffer[Double]()
    var buildNs = 0L
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    while (lat.size < MinCycles || System.nanoTime() < end) {
      val (op, b) = runCycle()
      lat += op / 1e6
      buildNs += b
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    Window(lat.toSeq, docs * 2.0 * lat.size / (buildNs / 1e9), wallS)
  }

  def verify(): Unit = Seq("tags", "words").foreach { l =>
    ctx.outcome.check(srv.lensLogsClean(l), s"$l logs hold map errors")
  }

  def close(): Unit = if (srv != null) srv.close()
}

/** One writer: record write -> synchronous LensHub cascade -> freshness reads. */
final class LensTick(ctx: Ctx, docs: Int, warmTicks: Int) extends Workload {
  /** Ticks keep speeding up for ~10 ticks after start-up (JIT warm-up), so
    * a window of 2 ticks and one of 4 sample different parts of that curve;
    * every window holds at least this many. */
  private val MinTicks = 5
  /** Tick kinds in a fixed cycle of ten: 60% tag-changing updates, 30%
    * inserts, 10% deletes. Every seed's window holds the same mix; the
    * records written and what they hold come from the seed. */
  private val Kinds = "uiuuiuduiu"
  private var ticks = 0
  val unitOp = "tick: PUT/DELETE one record (ack after the tags -> tag_sizes cascade) + GET of the touched tags and tag_sizes records"
  private val corpus = new Corpus(ctx.seed)
  private val model = new DocModel
  private val live = mutable.ArrayBuffer[String]()
  private val index = mutable.HashMap[String, mutable.Set[String]]()
  private var nextId = docs.toLong
  private var srv: Server = _

  private def addTags(id: String, d: Doc): Unit =
    d.tags.foreach(t => index.getOrElseUpdate(t, mutable.Set()) += id)
  private def dropTags(id: String, d: Doc): Unit = d.tags.foreach { t =>
    index.get(t).foreach { s => s -= id; if (s.isEmpty) index -= t }
  }

  def setup(): Unit = {
    srv = new Server(ctx, "store")
    srv.createDataset("docs")
    val all = Vector.tabulate(docs)(i => Corpus.id(i) -> corpus.doc(i.toLong))
    all.foreach { case (id, d) => model.put(id, d); live += id; addTags(id, d) }
    ctx.outcome.check(srv.importDocs(Corpus.jsonl(all), overwrite = true).ok, "import")
    Log.progress("imported")
    ctx.outcome.check(srv.createLens("tags", "/datasets/bench:docs", Maps.Tags).status == 303, "create tags")
    Log.progress("tags built")
    ctx.outcome.check(srv.createLens("tag_sizes", "/lenses/bench:tags", Maps.TagSizes).status == 303,
      "create tag_sizes")
    Log.progress("tag_sizes built")
    val hub = new LensHub(srv.store)
    Seq("tags", "tag_sizes").foreach(n => hub.register(Lens.fromConfig(srv.store, "bench", n).get))
    (0 until warmTicks).foreach { _ => tick(); Log.progress("warm tick") }
  }

  /** One seeded write of the next kind in [[Kinds]] and the two freshness
    * reads it must be visible to. */
  private def tick(): String = ctx.tracer.root("client.tick") {
    val kind = Kinds(ticks % Kinds.length)
    ticks += 1
    val (probeTag, oldSize) =
      if (kind != 'd') {
        val id =
          if (kind == 'u') live(corpus.nextInt(live.size))
          else { val id = Corpus.id(nextId); nextId += 1; live += id; id }
        val d = corpus.doc(nextId * 7 + live.size)
        model.docs.get(id).foreach(old => dropTags(id, old))
        model.put(id, d)
        addTags(id, d)
        val r = srv.traced("api.put_record")(srv.http.send("PUT", s"/datasets/bench:docs/records/$id",
          JsonCodec.encode(d.value)))
        ctx.outcome.check(r.ok, s"PUT $id -> ${r.status}")
        (d.tags.head, -1)
      } else {
        val k = corpus.nextInt(live.size)
        val id = live(k)
        live(k) = live.last
        live.remove(live.size - 1)
        val old = model.docs(id)
        val t = old.tags.head
        val before = index.get(t).map(_.size).getOrElse(0)
        dropTags(id, old)
        model.remove(id)
        val r = srv.traced("api.delete_record")(srv.http.send("DELETE", s"/datasets/bench:docs/records/$id"))
        ctx.outcome.check(r.ok, s"DELETE $id -> ${r.status}")
        (t, before)
      }
    val want = index.get(probeTag).map(_.toSet)
    val tr = srv.traced("api.get_lens_record")(srv.http.get(s"/lenses/bench:tags/records/$probeTag.json"))
    ctx.outcome.check(want match {
      case Some(ids) => tr.ok && JsonCodec.decode(tr.body) == DocModel.setValue(ids)
      case None => tr.status == 404
    }, s"tags/$probeTag stale after tick (${tr.status})")
    val size = want.map(_.size).getOrElse(oldSize)
    val wantSizes = index.collect { case (t, ids) if ids.size == size => t }.toSet
    val sr = srv.traced("api.get_lens_record")(srv.http.get(s"/lenses/bench:tag_sizes/records/$size.json"))
    ctx.outcome.check(
      if (wantSizes.isEmpty) sr.status == 404
      else sr.ok && JsonCodec.decode(sr.body) == DocModel.setValue(wantSizes),
      s"tag_sizes/$size stale after tick (${sr.status})")
    kind match { case 'u' => "update"; case 'i' => "insert"; case _ => "delete" }
  }

  def window(seconds: Double): Window = {
    val t0 = System.nanoTime()
    val lat = Loop.closed(seconds, MinTicks) { i =>
      val t = System.nanoTime()
      val kind = tick()
      Log.progress(f"tick $i ($kind): ${Loop.ms(t)}%.0f ms")
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    Window(lat.toSeq, lat.size / wallS, wallS)
  }

  def verify(): Unit = {
    val idx = index.map { case (k, v) => k -> v.toSet }.toMap
    ctx.outcome.check(Workload.setsEqual(Workload.exported(srv.exportJsonl("/lenses/bench:tags")), idx),
      "tags lens differs from the model")
    ctx.outcome.check(Workload.setsEqual(Workload.exported(srv.exportJsonl("/lenses/bench:tag_sizes")),
      DocModel.sizesOf(idx)), "tag_sizes lens differs from the model")
    Seq("tags", "tag_sizes").foreach(l => ctx.outcome.check(srv.lensLogsClean(l), s"$l logs hold map errors"))
  }

  def close(): Unit = if (srv != null) srv.close()
}

/** Small helpers over the run directory. */
object Disk {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def count(p: Path, suffix: String): Int =
    if (!Files.isDirectory(p)) 0
    else {
      val s = Files.list(p)
      try s.iterator.asScala.count(_.getFileName.toString.endsWith(suffix))
      finally s.close()
    }

  def rmTree(p: Path): Unit = graft.core.Fs.rmTree(p)
}
