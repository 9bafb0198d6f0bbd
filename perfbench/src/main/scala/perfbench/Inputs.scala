package perfbench

import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. The same seed gives the same inputs; the program only
  * ever sees the generated files.
  */
object Inputs {
  /** Far above any fixture id, as in `graft.ScaleUp`. */
  val IdShift = 100000000L

  /** Replica salts the ingest batches draw from. Salt 0 is the fixture
    * itself; each salt's expected write statistics are pinned.
    */
  val SaltPool: Seq[Long] = 0L until 16L

  private def mix64(z: Long): Long = graft.functions.SplitMix.mix64(z)

  /** `graft.ScaleUp`'s salted word-shuffle replica of one text: the word
    * order is shuffled with a seed taken from the text and the salt, and
    * about a quarter of the word types get a replica tag. Salt 0 returns
    * the text unchanged, so replica 0 keeps the planted near-duplicates.
    */
  def replicaText(text: String, salt: Long): String =
    if (salt == 0L || text == null) text
    else {
      val words = text.split(" ", -1)
      val seed = MurmurHash3.stringHash(text).toLong ^ (salt * 0x9e3779b97f4a7c15L)
      new Random(seed).shuffle(words.toIndexedSeq).map { w =>
        if ((mix64(MurmurHash3.stringHash(w).toLong ^ salt * 0x9e3779b97f4a7c15L) & 3L) == 0L)
          w + "~" + salt
        else w
      }.mkString(" ")
    }

  private val replicaUdf = udf((text: String, salt: Long) => replicaText(text, salt))

  private def write(df: DataFrame, dir: String): String = {
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** The salts of `n` ingest batches, drawn without repeats by the seed. */
  def batchSalts(seed: Long, n: Int): Seq[Long] = new Random(seed).shuffle(SaltPool).take(n)

  /** One ingest batch: the replica of `docs` under `salt`, ids shifted
    * by salt × IdShift, rows in a seeded order.
    */
  def writeBatch(docs: DataFrame, salt: Long, seed: Long, dir: String): String =
    write(docs
      .withColumn("doc_id", col("doc_id") + lit(salt * IdShift))
      .withColumn("text", replicaUdf(col("text"), lit(salt)))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy(xxhash64(col("doc_id"), lit(seed))), dir)

  /** The fixture corpus with every id moved by the same seeded offset and
    * rows in a seeded order. Retrieval breaks ties by ascending id, so the
    * shift keeps each query's ranking while partitioning and row order
    * follow the seed.
    */
  def writeShifted(docs: DataFrame, seed: Long, dir: String): String = {
    val offset = (1L + java.lang.Math.floorMod(seed, 997L)) * IdShift
    write(docs.withColumn("doc_id", col("doc_id") + lit(offset))
      .orderBy(xxhash64(col("doc_id"), lit(seed))), dir)
  }

  /** `n` ask queries: a seeded window of 8 to 24 words from a seeded document. */
  def askQueries(spark: SparkSession, corpusDir: String, seed: Long, n: Int): Seq[(Long, String)] = {
    val texts = graft.Tables.documents(spark, corpusDir).select("text").collect()
      .map(_.getString(0)).filter(t => t != null && t.split(" ").length >= 8).sorted
    val rnd = new Random(seed)
    (0 until n).map { i =>
      val words = texts(rnd.nextInt(texts.length)).split(" ")
      val len = 8 + rnd.nextInt(17)
      val from = rnd.nextInt(math.max(1, words.length - len + 1))
      (i.toLong, words.slice(from, from + len).mkString(" "))
    }
  }
}
