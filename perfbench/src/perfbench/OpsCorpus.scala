package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.codec.JsonCodec
import graft.core._

/** The `documents` and `embeddings` tables the dedup/ANN/multimodal
  * operators read, generated with the schema of the engine's test data:
  * short texts over a 60-word vocabulary with ~15% near-duplicates, and
  * 64-d vectors around 20 centroids with ~10% near-duplicates. The corpus
  * is fixed (its own seed) so that the expected row count and digest of
   * every query can be committed in `ops_expected.json`. */
object OpsCorpus {
  val Seed = 42L
  val Docs = 600
  val Embeddings = 240
  val Dim = 64

  private val words = Vector("spark", "batch", "stream", "table", "query", "join", "sort", "hash",
    "value", "key", "row", "column", "scan", "filter", "group", "window", "merge", "order",
    "vector", "index", "page", "file", "data", "lens", "store", "map", "reduce", "cache",
    "fast", "slow", "big", "small", "line", "part", "agg", "customer", "the", "a", "of", "and",
    "node", "graph", "edge", "path", "token", "text", "image", "frame", "audio", "model",
    "train", "eval", "shard", "block", "commit", "log", "event", "view", "sync", "diff")
  private val langs = Vector("en", "en", "en", "zh", "es", "fr", "de")

  def write(spark: SparkSession, dir: Path): Unit = {
    val r = new SplittableRandom(Seed)
    val texts = mutable.ArrayBuffer[String]()
    val docRows = (0 until Docs).map { i =>
      val text =
        if (i > 10 && r.nextDouble() < 0.15) {
          val src = texts(r.nextInt(texts.size)).split(' ')
          val k = r.nextInt(src.length)
          src.updated(k, words(r.nextInt(words.size))).mkString(" ")
        } else Vector.fill(8 + r.nextInt(72))(words(r.nextInt(words.size))).mkString(" ")
      texts += text
      Row(i.toLong, text, langs(r.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 1), docSchema)
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)

    val centroids = Vector.fill(20)(Array.fill(Dim)(r.nextDouble().toFloat * 2 - 1))
    val vecs = mutable.ArrayBuffer[Array[Float]]()
    val embRows = (0 until Embeddings).map { i =>
      val c = r.nextInt(centroids.size)
      val v =
        if (i > 10 && r.nextDouble() < 0.1) vecs(r.nextInt(vecs.size)).map(x => x + (r.nextDouble() * 0.002 - 0.001).toFloat)
        else centroids(c).map(x => x + (r.nextDouble() * 0.6 - 0.3).toFloat)
      vecs += v
      Row(i.toLong, v.toSeq, c % 10)
    }
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(embRows, 1), embSchema)
      .write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
  }

  /** Row count and an order-insensitive digest: the sum of each row's
    * 64-bit SHA-256 prefix, mod 2^64. */
  def digest(rows: Array[Row]): (Long, String) = {
    val md = MessageDigest.getInstance("SHA-256")
    val sum = rows.foldLeft(0L) { (acc, row) =>
      val h = md.digest(row.toString.getBytes(UTF_8))
      acc + java.nio.ByteBuffer.wrap(h).getLong
    }
    (rows.length.toLong, f"$sum%016x")
  }
}

/** The ten dedup/ANN/multimodal operators that hold the hand-placed
  * parallelism spreads, and their expected outputs on [[OpsCorpus]]. */
object OpsBatch {
  val Queries: Vector[String] = Vector("q13_near_dup_pairs", "q14_ann_lsh", "q24_cosine_dup",
    "q37_image_decode", "q38_dup_clusters", "q73_semdedup", "q104_edit_near_dup",
    "q116_containment", "q129_dup_substrings", "q151_mjpeg_frames")

  def readExpected(f: Path): Map[String, (Long, String)] =
    JsonCodec.decode(Files.readAllBytes(f)) match {
      case PoObj(top) => top.get("queries") match {
        case Some(PoObj(qs)) => qs.collect {
          case (q, PoObj(v)) => q -> ((v("rows") match { case PoInt(n) => n; case _ => -1L },
            v("digest") match { case PoStr(s) => s; case _ => "" }))
        }.toMap
        case _ => Map.empty
      }
      case _ => Map.empty
    }

  def writeExpected(f: Path, qs: Seq[(String, (Long, String))]): Unit = {
    val body = PoObj(
      "corpus" -> PoObj("seed" -> PoInt(OpsCorpus.Seed), "documents" -> PoInt(OpsCorpus.Docs),
        "embeddings" -> PoInt(OpsCorpus.Embeddings)),
      "queries" -> PoObj(scala.collection.immutable.VectorMap.from(qs.map { case (q, (n, d)) =>
        q -> PoObj("rows" -> PoInt(n), "digest" -> PoStr(d))
      })))
    Files.write(f, (JsonCodec.print(body) + "\n").getBytes(UTF_8))
  }
}
