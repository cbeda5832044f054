package perfbench

import java.nio.file.Files

import scala.collection.mutable

import graft.codec.{CborCodec, Codec, JsonCodec, JsonLinesCodec, MsgPackCodec, YamlCodec}
import graft.core._
import graft.lens.{JsMapFn, Lens, LensHub, MapPath, MapRunner}
import graft.store.{DataPath, Export, ReadPath, WriteEntry, WriteMode}
import graft.streaming.CommitLog

/** Per-layer probes for a traced run. Each number is timed from outside
  * the engine around calls into one module's public functions, single
  * threaded after warm-up, on documents from the run's own seed. The
  * probe store is separate from the workload's, so every workload
  * reports the same probe set. */
final class Probes(ctx: Ctx, jobs: SparkJobs, probeDocs: Int) {
  private val out = mutable.LinkedHashMap[String, Metric]()
  private def add(name: String, value: Double, unit: String): Unit =
    out(name) = Metric(name, value, unit)
  private def progress(what: String): Unit = Log.progress(s"probes: $what")

  @volatile private var sink: Any = null

  /** Mean µs per call of `f` over `n` calls, after `n / 4` warm-up calls. */
  private def usPer(n: Int)(f: Int => Any): Double = {
    (0 until n / 4).foreach(i => sink = f(i))
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { sink = f(i); i += 1 }
    (System.nanoTime() - t0) / 1e3 / n
  }

  /** Median ms of `k` calls after one warm-up call. */
  private def p50ms(k: Int)(f: Int => Any): Double = {
    sink = f(-1)
    Stats.median((0 until k).map { i => val t0 = System.nanoTime(); sink = f(i); Loop.ms(t0) })
  }

  private def timedS[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def jobMetrics(op: String, js: Seq[JobRec]): Unit = {
    add(s"spark.jobs_per.$op", js.size, "count")
    add(s"spark.stages_per.$op", js.map(_.stages).sum, "count")
    add(s"spark.tasks_per.$op", js.map(_.tasks).sum, "count")
  }

  def run(): Seq[Metric] = {
    val corpus = new Corpus(ctx.seed)
    val docs = Vector.tabulate(probeDocs)(i => Corpus.id(i) -> corpus.doc(i.toLong))
    val values = docs.map(_._2.value)
    val n = values.size
    val rnd = new java.util.SplittableRandom(ctx.seed + 1)
    def anyId(): String = docs(rnd.nextInt(n))._1

    // graft.codec
    for ((name, codec) <- Seq[(String, Codec)]("json" -> JsonCodec, "cbor" -> CborCodec,
        "msgpack" -> MsgPackCodec, "yaml" -> YamlCodec)) {
      val enc = values.map(codec.encode)
      ctx.outcome.check(enc.indices.forall(i => codec.decode(enc(i)) == values(i)), s"codec $name round trip")
      add(s"codec.$name.encode_us", usPer(n)(i => codec.encode(values(i % n))), "us")
      add(s"codec.$name.decode_us", usPer(n)(i => codec.decode(enc(i % n))), "us")
    }
    val importBytes = Corpus.jsonl(docs)
    add("codec.json.decode_import_s", Stats.median((0 until 3).map(_ => timedS(JsonLinesCodec.decode(importBytes))._2)), "s")

    progress("codec done")
    // graft.core
    val cbors = values.map(Cbor.encode)
    add("core.cbor_encode_us", usPer(n)(i => Cbor.encode(values(i % n))), "us")
    add("core.cbor_decode_us", usPer(n)(i => Cbor.decode(cbors(i % n))), "us")
    add("core.hash_us", usPer(n)(i => Cbor.hash(values(i % n))), "us")
    val model = new DocModel
    docs.foreach { case (id, d) => model.put(id, d) }
    val index = model.tagIndex
    val sets = index.values.toVector.map(DocModel.setValue)
    add("core.merge_set_us", usPer(20000)(i => Reduce.merge(sets(i % sets.size), sets((i * 7 + 1) % sets.size))), "us")
    add("core.merge_sum_us", usPer(200000)(i => Reduce.merge(PoInt(i.toLong), PoInt(1L))), "us")

    progress("core done")
    // graft.js and the sandbox (graft.lens.MapRunner)
    val fns = Map("tags" -> Maps.Tags, "words" -> Maps.Words, "tag_sizes" -> Maps.TagSizes)
      .map { case (k, code) => k -> JsMapFn.compile(code).toOption.get }
    def path(id: String) = MapPath(s"/datasets/bench:docs/records/$id", "datasets", "bench", "docs", id)
    val sizeInputs = sets.take(n)
    def call(lens: String, i: Int, sandboxed: Boolean) = {
      val (p, data) = if (lens == "tag_sizes") (path(s"t$i"), sizeInputs(i % sizeInputs.size)) else (path(docs(i % n)._1), values(i % n))
      val r =
        if (sandboxed) MapRunner.runSandboxed(fns(lens), p, data, Server.LensTimeoutMs)
        else MapRunner.run(fns(lens), p, data)
      if (r.error.nonEmpty || r.outputs.isEmpty) ctx.outcome.check(ok = false, s"$lens map call: ${r.error}")
      r
    }
    for (l <- Seq("tags", "words", "tag_sizes")) add(s"js.call_us.$l", usPer(2 * n)(i => call(l, i, sandboxed = false)), "us")
    for (l <- Seq("tags", "words")) add(s"lens.sandbox_call_us.$l", usPer(n)(i => call(l, i, sandboxed = true)), "us")

    progress("js done")
    // graft.store + graft.lens over a probe store, served by graft.api
    val srv = new Server(ctx, "probe")
    try {
      val store = srv.store
      srv.createDataset("docs")
      srv.createDataset("inbox")
      val coll = store.dataset("bench", "docs")
      val inbox = store.dataset("bench", "inbox")
      val entries = JsonLinesCodec.decode(importBytes) match {
        case PoArr(items) => items.map { case PoArr(Vector(PoStr(id), v)) => WriteEntry(id, Some(v)); case o => sys.error(s"$o") }
        case o => sys.error(s"$o")
      }
      val (_, bulkS) = timedS(coll.writeEntries(entries, WriteMode.Overwrite))
      add("store.commit_bulk_s", bulkS, "s")

      progress("bulk commit done")
      val docsPath = DataPath("datasets", "bench", "docs")
      def lens(name: String, input: DataPath, code: String): Lens =
        new Lens(store, "bench", name, Seq(input), JsMapFn.compile(code).toOption.get,
          Server.LensTimeoutMs, sandboxed = true).create()
      val tags = lens("tags", docsPath, Maps.Tags)
      val words = lens("words", docsPath, Maps.Words)
      val sizes = lens("tag_sizes", DataPath("lenses", "bench", "tags"), Maps.TagSizes)
      val ((_, tagsFullS), fullJobs) = jobs.counting(timedS(tags.buildFull()))
      add("lens.full_build_s.tags", tagsFullS, "s")
      jobMetrics("full_build", fullJobs)
      add("spark.shuffle_write_mb.full_build", fullJobs.map(_.shuffleWriteBytes).sum / 1048576.0, "MB")
      add("lens.full_build_s.words", timedS(words.buildFull())._2, "s")
      sizes.buildFull()
      progress("full builds done")
      add("lens.noop_build_ms", p50ms(3)(_ => tags.build()), "ms")

      val commitMs, tagsIncS, sizesIncS = mutable.ArrayBuffer[Double]()
      var incJobs = Vector.empty[JobRec]
      for (k <- 0 until 2) {
        val id = anyId()
        val d = corpus.doc(n + k.toLong)
        commitMs += timedS(coll.write(id, d.value))._2 * 1000
        model.put(id, d)
        val ((_, s), js) = jobs.counting(timedS(tags.build()))
        tagsIncS += s
        incJobs = js
        sizesIncS += timedS(sizes.build())._2
      }
      add("store.commit_one_ms", Stats.median(commitMs.drop(1)), "ms")
      add("lens.inc_build_s.tags", Stats.median(tagsIncS.drop(1)), "s")
      add("lens.inc_build_s.tag_sizes", Stats.median(sizesIncS.drop(1)), "s")
      jobMetrics("inc_build", incJobs)
      val deleted = (0 until 4).map(_ => anyId()).distinct
      add("store.delete_one_ms", Stats.median(deleted.map { id =>
        model.remove(id); timedS(coll.delete(id))._2 * 1000 }), "ms")
      tags.build(); sizes.build()
      add("lens.cache_mb", Seq("tags", "words", "tag_sizes")
        .map(l => Disk.bytesUnder(srv.root.resolve(s"lenses/bench/$l/cache"))).sum / 1048576.0, "MB")

      progress("incremental done")
      val liveIds = model.docs.keys.toVector
      def liveId(): String = liveIds(rnd.nextInt(liveIds.size))
      add("store.read_row_ms", p50ms(5)(_ => coll.readRow(liveId())), "ms")
      add("store.read_rows_ms", p50ms(5)(_ => coll.readRows(Vector.fill(50)(liveId()))), "ms")
      add("store.list_page_ms", p50ms(5)(_ => coll.listIterator(Some(liveId()), Some(100)).toVector), "ms")
      def drain(p: DataPath): Long = Export.flatFile(store, p, "jsonl").map(_.length.toLong).sum
      add("store.export_jsonl_s.dataset", p50ms(3)(_ => drain(docsPath)) / 1000, "s")
      add("store.export_jsonl_s.lens", p50ms(3)(_ => drain(DataPath("lenses", "bench", "tags"))) / 1000, "s")
      ctx.outcome.check(coll.readRow(liveIds.head).map(r => Cbor.decode(r.value)).contains(model.docs(liveIds.head).value),
        "store read differs from the model")

      progress("store reads done")
      // graft.api: per-route latency, and what the route adds over the library call
      val http = srv.http
      val exts = Vector("json", "cbor", "msgpack", "yaml")
      for (ext <- exts) add(s"api.route_ms.get_record.$ext", p50ms(5) { _ =>
        val id = liveId()
        val r = http.get(s"/datasets/bench:docs/records/$id.$ext")
        ctx.outcome.check(r.ok && Workload.decodeAs(ext, r.body) == model.docs(id).value, s"GET $id.$ext")
      }, "ms")
      add("api.route_ms.get_lens_record", p50ms(5)(i => http.get(s"/lenses/bench:tags/records/${corpus.tagNames(math.abs(i) % 20)}.json")), "ms")
      add("api.route_ms.list_page", p50ms(5)(_ => http.get(s"/datasets/bench:docs/records/?start=${liveId()}&limit=100")), "ms")
      add("api.route_ms.put_record", p50ms(5)(i => http.send("PUT", s"/datasets/bench:inbox/records/p${i + 1}",
        JsonCodec.encode(values(math.abs(i) % n)))), "ms")
      add("api.route_ms.delete_record", p50ms(5)(i => http.send("DELETE", s"/datasets/bench:inbox/records/p${i + 1}")), "ms")
      add("api.route_ms.changes", p50ms(5)(_ => http.get("/changes?since=0")), "ms")
      val libGet = p50ms(5)(_ => ReadPath.readRecord(store, docsPath.withRecord(liveId())))
      val libPut = p50ms(5)(i => inbox.write(s"q${i + 1}", values(math.abs(i) % n)))
      add("api.self_ms.get_record", out("api.route_ms.get_record.json").value - libGet, "ms")
      add("api.self_ms.put_record", out("api.route_ms.put_record").value - libPut, "ms")

      progress("api done")
      // graft.streaming: catch-up read of the durable change log
      val log = new CommitLog(store)
      add("streaming.events_since_ms", p50ms(5)(_ => log.eventsSince(0L)), "ms")
      add("streaming.log_files", Disk.count(srv.root.resolve("_commits"), ".json"), "count")

      progress("streaming done")
      // Spark jobs per user-visible operation
      jobMetrics("read", jobs.counting(http.get(s"/datasets/bench:docs/records/${liveId()}.json"))._2)
      jobMetrics("put", jobs.counting(http.send("PUT", "/datasets/bench:inbox/records/jobs",
        JsonCodec.encode(values.head)))._2)
      val hub = new LensHub(store)
      hub.register(tags); hub.register(sizes)
      val tickId = liveId()
      val tickDoc = corpus.doc(n + 100L)
      val (tickOk, tickJobs) = jobs.counting {
        val w = http.send("PUT", s"/datasets/bench:docs/records/$tickId", JsonCodec.encode(tickDoc.value))
        val t = http.get(s"/lenses/bench:tags/records/${tickDoc.tags.head}.json")
        val s = http.get(s"/lenses/bench:tag_sizes/records/1.json")
        w.ok && t.ok && (s.ok || s.status == 404)
      }
      ctx.outcome.check(tickOk, "probe tick")
      jobMetrics("tick", tickJobs)

      val m = store.dataset("bench", "docs").meta
      add("store.snapshot_files", Disk.count(srv.root.resolve(s"datasets/bench/docs/v${m.version}"), ".parquet"), "count")
      add("store.disk_mb", Disk.bytesUnder(srv.root) / 1048576.0, "MB")
      add("store.bytes_per_user_byte", Disk.bytesUnder(srv.root).toDouble / importBytes.length, "ratio")
    } finally srv.close()
    out.values.toSeq
  }

  /** graft.ops: each of the ten operators once, single threaded, over
    * the fixed [[OpsCorpus]]: seconds, Spark jobs, and a check of the
    * row count and digest against `expectedFile` (rewritten instead when
    * `record` is set). */
  def ops(expectedFile: java.nio.file.Path, record: Boolean): Seq[Metric] = {
    val dir = ctx.dir("probe-ops")
    Files.createDirectories(dir)
    OpsCorpus.write(ctx.spark, dir)
    val expected = if (record) Map.empty[String, (Long, String)] else OpsBatch.readExpected(expectedFile)
    val got = mutable.LinkedHashMap[String, (Long, String)]()
    try OpsBatch.Queries.flatMap { q =>
      val ((rows, s), js) = jobs.counting(timedS(graft.SparkEntry.queries(q)(ctx.spark, dir.toString).collect()))
      val d = OpsCorpus.digest(rows)
      got(q) = d
      if (!record) ctx.outcome.check(expected.get(q).contains(d), s"$q: got ${d._1} rows / ${d._2}, want ${expected.get(q)}")
      progress(f"$q ${s}%.2f s, ${js.size} jobs, ${d._1} rows")
      Seq(Metric(s"ops.query_s.$q", s, "s"), Metric(s"ops.query_jobs.$q", js.size, "count"))
    } finally {
      Disk.rmTree(dir)
      if (record && got.size == OpsBatch.Queries.size) OpsBatch.writeExpected(expectedFile, got.toSeq)
    }
  }
}
