package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every input the program sees comes from
  * here, and the same seed always yields the same bytes.
  */
object Gen {
  val Cfs: Vector[String] = Vector("click", "view", "purchase", "signup", "error")
  val Nodes = 10

  /** Log-normal with the given mean (sigma 1), capped at 16x the mean. */
  private def logNormal(rng: SplittableRandom, mean: Double): Long = {
    val z = math.sqrt(-2 * math.log(1 - rng.nextDouble())) *
      math.cos(2 * math.Pi * rng.nextDouble())
    val v = math.exp(math.log(mean) - 0.5 + z)
    math.max(1L, math.min(v, 16 * mean).toLong)
  }

  private def randomBytes(rng: SplittableRandom, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      var x = rng.nextLong()
      var j = 0
      while (j < 8 && i < n) { out(i) = x.toByte; x >>>= 8; i += 1; j += 1 }
    }
    out
  }

  final case class SsFile(rel: String, size: Long, temp: Boolean)

  /** A live Cassandra-shaped data directory,
    * `ks1/<cf>/node<n>/na-<gen>[-tmp]-Data.db`, with log-normal file
    * sizes and random contents. Generations rise monotonically, as
    * Cassandra's do.
    */
  final class SsTree(val root: Path, seed: Long, meanBytes: Double, tmpFrac: Double) {
    private val rng = new SplittableRandom(seed)
    private var gen = 0L
    /** Durable files currently on disk, in creation order. */
    val durable: mutable.ArrayBuffer[SsFile] = mutable.ArrayBuffer.empty
    private var inFlight: List[SsFile] = Nil

    private def write(temp: Boolean): SsFile = {
      gen += 1
      val cf = Cfs(rng.nextInt(Cfs.size))
      val node = rng.nextInt(Nodes)
      val size = logNormal(rng, meanBytes)
      val rel = s"ks1/$cf/node$node/na-$gen${if (temp) "-tmp" else ""}-Data.db"
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, randomBytes(rng, size.toInt))
      val f = SsFile(rel, size, temp)
      if (temp) inFlight = f :: inFlight else durable += f
      f
    }

    /** The initial tree: `n` files, about `tmpFrac` of them in flight. */
    def populate(n: Int): Seq[SsFile] =
      (1 to n).map(_ => write(rng.nextDouble() < tmpFrac))

    /** One flush/compaction cycle: the previous cycle's in-flight
      * files finish (their `-tmp` names disappear), `nNew` durable
      * files and one new `-tmp` file land, and a compaction deletes
      * `nNew` older durable files, so the tree size stays flat.
      * Returns the files landed.
      */
    def drop(nNew: Int): Seq[SsFile] = {
      inFlight.foreach(f => Files.deleteIfExists(root.resolve(f.rel)))
      inFlight = Nil
      val old = durable.size
      val landed = (1 to nNew).map(_ => write(temp = false)) :+ write(temp = true)
      (0 until math.min(nNew, old)).foreach { _ =>
        val i = rng.nextInt(durable.size - nNew)
        Files.deleteIfExists(root.resolve(durable(i).rel))
        durable.remove(i)
      }
      landed
    }
  }

  /** An events-shaped table (`events.parquet` under `dir`) that
    * [[graft.syncer.FileInventory]] reads as a file inventory: `rows`
    * file entries over `days` snapshot days, cf = event_type (5
    * values), node = user_id % 10, shard = event_id % 7 and generation
    * = event_id, rising with time. Written as `files` parquet files.
    */
  def eventsInventory(spark: SparkSession, dir: String, seed: Long, rows: Long,
      days: Int, files: Int): Unit = {
    val startUs = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
    val stepUs = days * 86400L * 1000000L / rows
    def h(salt: Int) = xxhash64(col("id"), lit(seed), lit(salt))
    spark.range(0, rows, 1, files)
      .select(
        col("id").as("event_id"),
        timestamp_micros(lit(startUs) + col("id") * stepUs + pmod(h(1), lit(stepUs)))
          .as("ts"),
        pmod(h(2), lit(100000L)).as("user_id"),
        element_at(array(Cfs.map(lit(_)): _*), (pmod(h(3), lit(5L)) + 1).cast("int"))
          .as("event_type"),
        (pmod(h(4), lit(1000000L)) / 100.0).as("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** A corpus shard with planted duplicates, and what was planted. */
  final case class Corpus(exactClusters: Set[(Long, Long)],
      nearPairs: Seq[(Long, Long)], relatedPairs: Set[(Long, Long)])

  private val Syllables = Vector("ka", "lo", "mi", "ne", "ru", "ta", "shi", "vo",
    "del", "pra", "gin", "tor", "bu", "xe", "qua", "fen", "ly", "os", "zar", "wi")

  /** Fixed vocabulary (seed-independent), 4096 pseudo-words. */
  private lazy val Vocab: Vector[String] = {
    val r = new SplittableRandom(7L)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 4096)
      seen += (1 to 2 + r.nextInt(3)).map(_ => Syllables(r.nextInt(Syllables.size))).mkString
    seen.toVector
  }

  /** One corpus shard under `dir`: `documents.parquet` with `nDocs`
    * docs (about 4 % extra verbatim copies in clusters of 2-4, some
    * differing only in case, and about 3 % near duplicates that differ
    * from their source in one or two words) and `embeddings.parquet`
    * with `nDocs` 64-d vectors (about 3 % planted near-duplicate
    * vectors, cosine about 0.99 to their source). Ids are shuffled so
    * keepers are not positional.
    */
  def corpusShard(spark: SparkSession, dir: String, seed: Long, nDocs: Int): Corpus = {
    val rng = new SplittableRandom(seed)
    def words(n: Int): Array[String] = Array.fill(n)(Vocab(rng.nextInt(Vocab.size)))
    val nExactBases = nDocs / 50
    val nNear = nDocs * 3 / 100
    // (text, group): docs of one group are planted relatives
    val texts = mutable.ArrayBuffer.empty[(String, Int)]
    var group = 0
    var nearDone = 0
    val exactGroups = mutable.ArrayBuffer.empty[Int]
    while (texts.size < nDocs) {
      val base = words(30 + rng.nextInt(60))
      val t = base.mkString(" ")
      val left = nDocs - texts.size
      if (exactGroups.size < nExactBases && left >= 4) {
        val copies = 1 + rng.nextInt(3)
        texts += ((t, group))
        (1 to copies).foreach { _ =>
          texts += ((if (rng.nextInt(3) == 0) t.toUpperCase else t, group))
        }
        exactGroups += group
      } else if (nearDone < nNear && left >= 2) {
        val w = base.clone()
        (1 to 1 + rng.nextInt(2)).foreach { _ =>
          val i = 3 + rng.nextInt(w.length - 6)
          var r = Vocab(rng.nextInt(Vocab.size))
          while (r == w(i)) r = Vocab(rng.nextInt(Vocab.size))
          w(i) = r
        }
        texts += ((t, group))
        texts += ((w.mkString(" "), group))
        nearDone += 1
      } else texts += ((t, group))
      group += 1
    }
    // shuffled ids
    val ids = (0L until nDocs.toLong).toArray
    for (i <- ids.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val withIds = texts.indices.map(i => (ids(i), texts(i)))
    val byGroup = withIds.groupBy(_._2._2).values
      .filter(_.size > 1).map(_.map(_._1).sorted).toSeq
    val exactSet = exactGroups.toSet
    val exactClusters = withIds.filter(t => exactSet(t._2._2)).groupBy(_._2._2).values
      .map(g => (g.map(_._1).min, g.size.toLong)).toSet
    val nearPairs = withIds.filter(t => !exactSet(t._2._2)).groupBy(_._2._2).values
      .filter(_.size == 2).map { g => val s = g.map(_._1).sorted; (s(0), s(1)) }.toSeq
    val related = byGroup.flatMap(g => g.combinations(2).map(p => (p(0), p(1)))).toSet
    val docRows = withIds.map { case (id, (t, _)) =>
      Row(id, t, "en", s"src${(id % 5).toInt}", t.length.toLong)
    }
    val docSchema = StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 4), docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // embeddings: unit-norm gaussians; planted near-duplicates get small noise
    val dim = 64
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def gauss(): Double = math.sqrt(-2 * math.log(1 - rng.nextDouble())) *
      math.cos(2 * math.Pi * rng.nextDouble())
    val vecs = mutable.ArrayBuffer.empty[Array[Double]]
    while (vecs.size < nDocs) {
      val b = unit(Array.fill(dim)(gauss()))
      vecs += b
      if (vecs.size < nDocs && rng.nextInt(100) < 3)
        vecs += unit(b.map(_ + 0.015 * gauss()))
    }
    val vids = (0L until nDocs.toLong).toArray
    for (i <- vids.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = vids(i); vids(i) = vids(j); vids(j) = t
    }
    val vecRows = vecs.indices.map(i => Row(vids(i), vecs(i).map(_.toFloat).toSeq, 0))
    val vecSchema = StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, 4), vecSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Corpus(exactClusters, nearPairs, related)
  }
}
