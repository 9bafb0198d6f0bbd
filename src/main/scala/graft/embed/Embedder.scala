package graft.embed

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Batch text embedding behind a trait (reference: build_faiss.py:69-85 —
  * SentenceTransformer all-MiniLM-L6-v2, 384-d, unit-L2, batch=64).
  *
  * The offline default is a deterministic seeded hashing projection with
  * the identical interface and dimension: each lowercased token votes
  * ±1/±… into `dim` buckets chosen by two independent token hashes, then
  * the vector is L2-normalized. Same text ⇒ same vector on any executor,
  * no model download, and near-duplicate texts land near each other in
  * cosine space (bag-of-words locality), which is exactly what the
  * retrieval/eval semantics need.
  *
  * Scale: `embed` uses `mapPartitions` so a real model would amortize
  * per-batch inference; the stand-in is pure CPU. No shuffle — embedding
  * is a narrow transformation appended to whatever partitioning the input
  * already has.
  */
trait Embedder extends Serializable {
  def dim: Int
  /** Embed one batch of texts; must be pure and deterministic. */
  def encode(texts: Seq[String]): Seq[Array[Float]]
}

final class HashingEmbedder(val dim: Int = 384, seed: Int = 42) extends Embedder {
  import scala.util.hashing.MurmurHash3

  def encode(texts: Seq[String]): Seq[Array[Float]] = texts.map(encodeOne)

  def encodeOne(text: String): Array[Float] = Embedder.normalized(dim, text) { (tokens, v) =>
    var t = 0
    while (t < tokens.length) {
      val tok = tokens(t)
      val h1 = MurmurHash3.stringHash(tok, seed)
      val h2 = MurmurHash3.stringHash(tok, seed ^ 0x5f3759df)
      // two buckets per token with ±1 votes — a 2-sparse random projection
      v(Math.floorMod(h1, dim)) += (if ((h1 >>> 16 & 1) == 0) 1f else -1f)
      v(Math.floorMod(h2, dim)) += (if ((h2 >>> 16 & 1) == 0) 1f else -1f)
      t += 1
    }
  }
}

/** Second Embedder implementation behind the same trait: a fixed-weight
  * dense random projection (Johnson-Lindenstrauss style). Each token's
  * hash seeds a deterministic ±1 row of the projection matrix, generated
  * on the fly from a splitmix64 stream — fixed "weights" without storing
  * a dim×vocab matrix, same text ⇒ same vector on any executor. Exists
  * to prove the retrieval plumbing is embedder-agnostic (RetrievalSpec):
  * swapping the model is a constructor argument, zero pipeline diffs —
  * exactly the seam a real SentenceTransformer slots into.
  */
final class LinearProjectionEmbedder(val dim: Int = 384, seed: Long = 7L)
    extends Embedder {
  import scala.util.hashing.MurmurHash3

  private def mix64(z0: Long): Long = graft.functions.SplitMix.mix64(z0)

  def encode(texts: Seq[String]): Seq[Array[Float]] = texts.map(encodeOne)

  def encodeOne(text: String): Array[Float] = Embedder.normalized(dim, text) { (tokens, v) =>
    var t = 0
    while (t < tokens.length) {
      val base = seed * 0x100000001b3L + MurmurHash3.stringHash(tokens(t), 17).toLong
      var i = 0
      while (i < dim) {
        // one ±1 weight per (token, output dim) from the deterministic stream
        v(i) += (if ((mix64(base + i * 0x9E3779B9L) & 1L) == 0L) 1f else -1f)
        i += 1
      }
      t += 1
    }
  }
}

object Embedder {
  val default: HashingEmbedder = new HashingEmbedder()

  /** The tokenize-and-normalize frame of the bag-of-tokens embedders:
    * `text` lowercased and split on whitespace (null ⇒ no tokens),
    * `accumulate` adds the tokens' votes into a zero `dim`-vector, and
    * the result is L2-normalized (the zero vector stays zero).
    */
  private[embed] def normalized(dim: Int, text: String)(
      accumulate: (Array[String], Array[Float]) => Unit): Array[Float] = {
    val v = new Array[Float](dim)
    if (text != null) accumulate(text.toLowerCase.split("\\s+").filter(_.nonEmpty), v)
    var norm = 0.0
    var i = 0
    while (i < dim) { norm += v(i).toDouble * v(i); i += 1 }
    if (norm > 0) {
      val inv = (1.0 / math.sqrt(norm)).toFloat
      i = 0
      while (i < dim) { v(i) *= inv; i += 1 }
    }
    v
  }

  /** Append an `ArrayType(FloatType)` embedding column. Runs the BATCH
    * path internally (`mapPartitions`, batch=64 like the reference's
    * SentenceTransformer batching) so every DataFrame call site amortizes
    * per-batch inference when a real model replaces the stand-in — no
    * per-row UDF anywhere in the embedding surface.
    */
  def withEmbedding(df: DataFrame, textCol: String, outCol: String = "vec",
                    embedder: Embedder = default, batchSize: Int = 64): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val outSchema = df.schema.add(outCol, ArrayType(FloatType, containsNull = false))
    val enc = RowEncoder.encoderFor(outSchema)
    val idx = df.schema.fieldIndex(textCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val vecs = embedder.encode(batch.map(_.getString(idx)))
        batch.zip(vecs).map { case (r, v) => Row.fromSeq(r.toSeq :+ v) }
      }
    }(enc)
  }

  /** mapPartitions batch embedding for typed pipelines (the 100 TB path —
    * per-partition batching mirrors the reference's batch=64 inference).
    */
  def embedPartitions[T](ds: Dataset[(T, String)], batchSize: Int = 64,
                         embedder: Embedder = default)(
      implicit enc: org.apache.spark.sql.Encoder[(T, Array[Float])]): Dataset[(T, Array[Float])] =
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val vecs = embedder.encode(batch.map(_._2))
        batch.map(_._1).zip(vecs)
      }
    }
}
