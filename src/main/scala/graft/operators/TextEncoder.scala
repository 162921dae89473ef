package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.concurrent.locks.ReentrantLock

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** E4: session-pool parallel text encoding
  * (`next-plaid-onnx/src/lib.rs:1562-1624` `encode_parallel`,
  * `select_onnx_file` `:1668-1695`).
  *
  * The reference encodes text batches by chunking into `batch_size`
  * slices and round-robining chunk *i* onto ONNX session *i mod N*, each
  * session behind a mutex. We reproduce that execution shape exactly —
  * chunking, round-robin assignment, per-session locking, order-preserving
  * reassembly — as a Spark `mapPartitions` stage: Spark parallelizes
  * *across* partitions while the per-JVM [[EncoderPool]] multiplexes the
  * (expensive, non-thread-safe in ORT) sessions *within* one, which is the
  * same two-level parallelism the reference gets from its thread scope.
  *
  * Actual ONNX inference cannot run in this sandbox (no onnxruntime jar,
  * zero egress for model weights — SURVEY §2.6 fences E4's ML runtime),
  * so the deployed-session slot is the [[TokenEncoder]] trait:
  * `OnnxTokenEncoder` plugs in behind it unchanged in a real deployment.
  * [[HashTokenEncoder]] is the honest deterministic stand-in — md5-seeded
  * per-token vectors, L2-normalized like ColBERT outputs — replayable
  * byte-identically by the DuckDB oracle (`e4_encode`), so the *plumbing*
  * (prep → batch → pool → normalize → embeddings column) is fully
  * oracle-checked even though the tensor math is faked.
  */
trait TokenEncoder extends Serializable {
  def dim: Int

  /** Encode ONE pre-tokenized text → `[num_tokens, dim]`, rows
    * L2-normalized. Called under the owning session's lock. */
  def encode(tokens: Seq[String]): Array[Array[Float]]
}

/** Deterministic stand-in for an ONNX session. value(token, j) =
  * (md5(token ++ ":" ++ j)[0,15) as hex → int) scaled to [-1, 1), then the
  * token row is L2-normalized — matching the reference's normalized
  * ColBERT embeddings (`lib.rs:1118-1140` post-processing). The md5
  * arithmetic is chosen so DuckDB replays it exactly. */
final case class HashTokenEncoder(dim: Int) extends TokenEncoder {
  def encode(tokens: Seq[String]): Array[Array[Float]] = {
    val md = MessageDigest.getInstance("MD5")
    tokens.toArray.map { t =>
      val raw = new Array[Double](dim)
      var j = 0
      while (j < dim) {
        val hex = md.digest(s"$t:$j".getBytes("UTF-8"))
          .take(8).map(b => f"$b%02x").mkString.take(15)
        val h = java.lang.Long.parseLong(hex, 16)
        raw(j) = (h % 2000001L - 1000000L) / 1000000.0
        md.reset()
        j += 1
      }
      val norm = math.sqrt(raw.map(x => x * x).sum)
      if (norm == 0) raw.map(_.toFloat)
      else raw.map(x => (x / norm).toFloat)
    }
  }
}

/** Per-JVM pool of N encoder sessions, each behind its own lock — the
  * twin of the reference's `Vec<Mutex<Session>>`. Sessions are built
  * lazily once per (executor JVM, pool key) because a real ORT session is
  * expensive to construct; the pool is shared by all partitions running
  * in that JVM. */
object EncoderPool {
  private case class Pool(sessions: Array[TokenEncoder], locks: Array[ReentrantLock])
  private val pools = new java.util.concurrent.ConcurrentHashMap[String, Pool]()

  /** How many distinct sessions a pool key has instantiated (spec hook). */
  def sessionCount(key: String): Int =
    Option(pools.get(key)).map(_.sessions.length).getOrElse(0)

  /** Encode `chunks` with chunk *i* on session *i mod numSessions*, each
    * under that session's lock; results re-assembled in chunk order
    * (`encode_parallel` lib.rs:1568-1610). */
  def encodeChunks(key: String, mk: () => TokenEncoder, numSessions: Int,
      chunks: Seq[Seq[Seq[String]]]): Seq[Array[Array[Float]]] = {
    val n = math.max(1, numSessions)
    val pool = pools.computeIfAbsent(key, _ =>
      Pool(Array.fill(n)(mk()), Array.fill(n)(new ReentrantLock())))
    val cs = chunks.toIndexedSeq
    val out = new Array[Seq[Array[Array[Float]]]](cs.length)
    java.util.stream.IntStream.range(0, cs.length).parallel().forEach { i =>
      val s = i % pool.sessions.length
      pool.locks(s).lock()
      try out(i) = cs(i).map(pool.sessions(s).encode)
      finally pool.locks(s).unlock()
    }
    out.toSeq.flatten
  }
}

object Encode {

  /** Strict model-file selection (`select_onnx_file` lib.rs:1668-1695):
    * `--int8` loads model_int8.onnx ONLY (error if absent — never falls
    * back to f32), without it model.onnx ONLY (never silently loads the
    * int8 file). */
  def selectOnnxFile(modelDir: String, quantized: Boolean): Either[String, Path] = {
    val dir = Paths.get(modelDir)
    if (quantized) {
      val p = dir.resolve("model_int8.onnx")
      if (Files.exists(p)) Right(p)
      else Left(s"INT8 quantized model not found at $p. " +
        "Remove the int8 flag to load model.onnx instead.")
    } else {
      val p = dir.resolve("model.onnx")
      if (Files.exists(p)) Right(p)
      else Left(s"Model not found at $p. Use the int8 flag to load model_int8.onnx instead.")
    }
  }

  /** E2+E4: documents text → per-token embeddings.
    * Output: (id, embeddings array<array<float>>), one row per input row.
    * Pure map stage — no shuffle; encoding parallelism = Spark partitions
    * × in-JVM session pool. `poolFactor > 1` applies E3 hierarchical Ward
    * pooling per document after encode (`pool_document_embeddings`
    * lib.rs:1628-1641). */
  def documents(df: DataFrame, idCol: String, textCol: String,
      mkEncoder: () => TokenEncoder, poolKey: String,
      documentLength: Int = Encoding.DefaultDocumentLength,
      batchSize: Int = 32, numSessions: Int = 4,
      poolFactor: Int = 1): DataFrame =
    run(df, idCol, Encoding.prepareDocumentCol(col(textCol), documentLength),
      mkEncoder, poolKey, batchSize, numSessions, poolFactor)

  /** E1+E4: queries text → per-token embeddings ([MASK]-expanded to
    * `queryLength`; never Ward-pooled — reference pools documents only). */
  def queries(df: DataFrame, idCol: String, textCol: String,
      mkEncoder: () => TokenEncoder, poolKey: String,
      queryLength: Int = Encoding.DefaultQueryLength,
      batchSize: Int = 32, numSessions: Int = 4): DataFrame =
    run(df, idCol, Encoding.prepareQueryCol(col(textCol), queryLength),
      mkEncoder, poolKey, batchSize, numSessions, poolFactor = 1)

  private def run(df: DataFrame, idCol: String, tokensCol: org.apache.spark.sql.Column,
      mkEncoder: () => TokenEncoder, poolKey: String,
      batchSize: Int, numSessions: Int, poolFactor: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val prepped: Dataset[(Long, Seq[String])] =
      df.select(col(idCol).cast("long"), tokensCol).as[(Long, Seq[String])]
    prepped.mapPartitions { it =>
      // the reference's work queue: batch_size chunks, round-robin over
      // the session pool, order preserved (build_document_work_queue
      // lib.rs:1613-1624)
      it.grouped(1024).flatMap { block =>
        val chunks = block.grouped(math.max(1, batchSize)).toSeq
        val encoded = EncoderPool.encodeChunks(
          poolKey, mkEncoder, numSessions, chunks.map(_.map(_._2)))
        block.zip(encoded).map { case ((id, _), emb) =>
          val pooled =
            if (poolFactor > 1) graft.core.Ward.poolDocument(emb, poolFactor)
            else emb
          (id, pooled.map(_.toSeq).toSeq)
        }
      }
    }.toDF(idCol, "embeddings")
  }
}
