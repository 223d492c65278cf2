package graft.chat

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.chat.Schemas.{ChunkRow, CodeChunk}

/** Embedding stage (reference: src/embedding.rs).
  *
  * The reference loads a local Jina(512)/Qwen3(1024) model and embeds in
  * batches of 32 (embedding.rs:112-129, main.rs:288-330). Here the model
  * is behind a trait; the deterministic offline workhorse is a
  * bag-of-hashed-tokens embedder whose exact semantics are also
  * expressible in SQL (so kNN over it is DuckDB-oracle-checkable):
  *
  *   bucket(token) = nib(md5hex[0]) * 16 + nib(md5hex[1])   (dim 256)
  *   vector[b]     = count of tokens hashing to b, L2-normalized
  *
  * Batched inference happens inside mapPartitions with grouped(32) —
  * the canonical Spark batched-model-inference shape (order preserved
  * within partitions by construction, mirroring E2/E4).
  */
trait Embedder extends Serializable {
  def dim: Int
  def embedBatch(texts: Seq[String]): Seq[Array[Float]]
  def embed(text: String): Array[Float] = embedBatch(Seq(text)).head
}

/** Deterministic hashing embedder (no model weights, engine-portable). */
class HashingEmbedder(val dim: Int = 256) extends Embedder {
  require(dim == 256, "bucket scheme uses two md5 hex nibbles -> 256")

  private def md5hex(s: String): String = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map("%02x".format(_)).mkString
  }

  def tokenize(text: String): Seq[String] =
    text.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty)

  def bucket(token: String): Int = {
    val h = md5hex(token)
    def nib(c: Char): Int = "0123456789abcdef".indexOf(c)
    nib(h.charAt(0)) * 16 + nib(h.charAt(1))
  }

  /** Raw integer counts (the exact-arithmetic form used by the oracle). */
  def counts(text: String): Array[Long] = {
    val v = new Array[Long](dim)
    tokenize(text).foreach(t => v(bucket(t)) += 1)
    v
  }

  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] =
    texts.map { t =>
      val c = counts(t)
      val norm = math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)
      if (norm == 0) c.map(_.toFloat)
      else c.map(x => (x / norm).toFloat)
    }
}

object Embedders {

  /** Env-gated embedder selection, mirroring the reference's model
    * routing (embedding.rs:38-52 from_str): GRAFT_ONNX_MODEL points at
    * an .onnx file (optionally GRAFT_ONNX_DIM to enforce the expected
    * output width, like the 512/1024 family check); unset, the
    * deterministic hashing embedder drives everything. */
  def fromEnv(env: Map[String, String] = sys.env): Embedder =
    env.get("GRAFT_ONNX_MODEL") match {
      case Some(path) =>
        new OnnxEmbedder(path, env.get("GRAFT_ONNX_DIM").map(_.toInt))
      case None => new HashingEmbedder()
    }
}

object Embed {

  /** E2: batched embed over chunk rows, assigning stable chunk ids.
    * One embedder instance per partition (executor-side lazy init, E1);
    * grouped(32) batching preserves in-partition order. */
  def embedChunks(spark: SparkSession, chunks: Dataset[CodeChunk],
                  embedder: Embedder = new HashingEmbedder()): Dataset[ChunkRow] = {
    import spark.implicits._
    chunks.rdd.zipWithIndex().toDF("chunk", "chunk_id")
      .as[(CodeChunk, Long)]
      .mapPartitions { it =>
        it.grouped(32).flatMap { batch =>
          val vecs = embedder.embedBatch(batch.map(_._1.content))
          batch.zip(vecs).map { case ((c, id), v) =>
            ChunkRow(id, c.file_path, c.content, c.language, c.extension, v)
          }
        }
      }
  }
}
