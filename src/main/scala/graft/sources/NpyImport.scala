package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{Codec, IndexWriter, MultiVectorIndex}

/** B11: import a reference-format (fast-plaid / nextplaid) index
  * directory into the parquet layout (mmap.rs:1757-1889 conversion,
  * dtype handling mmap.rs:428-658; directory contract index.rs:373-528).
  *
  * The `.npy` format is the public NumPy spec: `\x93NUMPY` magic, a
  * Python-dict header with descr/fortran_order/shape, then raw
  * little-endian data. Supported dtypes mirror the reference loaders:
  * f4, f2 (→f32), i8/i4 (→long), u1.
  */
object NpyImport {

  final case class Npy(shape: Seq[Int], descr: String, data: ByteBuffer)

  def readNpy(path: String): Npy = {
    val bytes = Files.readAllBytes(Paths.get(path))
    require(bytes.length > 10 && bytes(0) == 0x93.toByte &&
      new String(bytes, 1, 5, "ASCII") == "NUMPY", s"not an npy file: $path")
    val major = bytes(6)
    // a v2+ header length field is 4 bytes (offset 8..11) — a truncated
    // file must fail the length require, not IndexOutOfBounds the wrap
    require(bytes.length >= (if (major == 1) 10 else 12),
      s"truncated npy header in $path")
    val (headerLen, headerOff) =
      if (major == 1) (ByteBuffer.wrap(bytes, 8, 2).order(ByteOrder.LITTLE_ENDIAN).getShort.toInt, 10)
      else (ByteBuffer.wrap(bytes, 8, 4).order(ByteOrder.LITTLE_ENDIAN).getInt, 12)
    // a corrupt/truncated file must fail with a TYPED error naming the
    // file (the reference's loader returns typed errors, mmap.rs), not
    // an IndexOutOfBounds / NoSuchElement / NumberFormat crash
    require(headerLen >= 0 && headerOff.toLong + headerLen <= bytes.length,
      s"corrupt npy header length ($headerLen) in $path")
    val header = new String(bytes, headerOff, headerLen, "ASCII")
    def field(re: String, what: String): String =
      re.r.findFirstMatchIn(header).getOrElse(
        throw new IllegalArgumentException(
          s"npy header missing $what in $path")).group(1)
    val descr = field("'descr'\\s*:\\s*'([^']+)'", "'descr'")
    val fortran = field("'fortran_order'\\s*:\\s*(True|False)", "'fortran_order'") == "True"
    require(!fortran, s"fortran_order unsupported: $path")
    val shape = field("'shape'\\s*:\\s*\\(([^)]*)\\)", "'shape'")
      .split(",").map(_.trim).filter(_.nonEmpty)
      .map(s => s.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"non-integer npy shape component '$s' in $path"))).toSeq
    require(shape.forall(_ >= 0), s"negative npy shape in $path")
    val data = ByteBuffer.wrap(bytes, headerOff + headerLen,
      bytes.length - headerOff - headerLen).order(ByteOrder.LITTLE_ENDIAN)
    Npy(shape, descr.stripPrefix("<").stripPrefix("|"), data)
  }

  /** IEEE 754 half → float (the reference's f16 conversion path). */
  private def halfToFloat(h: Short): Float = {
    val sign = (h >> 15) & 1
    val exp = (h >> 10) & 0x1f
    val frac = h & 0x3ff
    val f =
      if (exp == 0) math.pow(2, -14) * (frac / 1024.0)
      else if (exp == 0x1f) { if (frac == 0) Double.PositiveInfinity else Double.NaN }
      else math.pow(2, exp - 15) * (1.0 + frac / 1024.0)
    (if (sign == 1) -f else f).toFloat
  }

  /** float → IEEE 754 half, round-to-nearest-even — the fixture-writer
    * inverse of [[halfToFloat]] (fast-plaid emits f2 side files;
    * mmap.rs:1761-1779 converts them on load, we read them directly). */
  def floatToHalf(f: Float): Short = {
    val bits = java.lang.Float.floatToIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    val exp = (bits >>> 23) & 0xff
    val frac = bits & 0x7fffff
    if (exp == 0xff) // inf / nan (nan keeps a payload bit so it stays nan)
      (sign | 0x7c00 | (if (frac != 0) 0x200 else 0)).toShort
    else {
      val e = exp - 127 + 15
      if (e >= 0x1f) (sign | 0x7c00).toShort // overflow → ±inf
      else if (e <= 0) {
        if (e < -10) sign.toShort // underflow → ±0
        else {
          // subnormal half: drop (14 - e) mantissa bits with RNE
          val mant24 = frac | 0x800000
          val shift = 14 - e
          val mant = mant24 >>> shift
          val rem = mant24 & ((1 << shift) - 1)
          val half = 1 << (shift - 1)
          val h = sign | mant
          (if (rem > half || (rem == half && (mant & 1) == 1)) h + 1 else h).toShort
        }
      } else {
        // normal: 23 → 10 mantissa bits with RNE; a mantissa carry
        // overflows into the exponent exactly as IEEE intends
        val mant = frac >>> 13
        val rem = frac & 0x1fff
        val h = sign | (e << 10) | mant
        (if (rem > 0x1000 || (rem == 0x1000 && (mant & 1) == 1)) h + 1 else h).toShort
      }
    }
  }

  /** Raw descr string from an npy header (with its byte-order prefix —
    * [[readNpy]] strips it, the legacy converter needs it). */
  def npyDescr(path: String): String = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val major = bytes(6)
    // a v2+ header length field is 4 bytes (offset 8..11) — a truncated
    // file must fail the length require, not IndexOutOfBounds the wrap
    require(bytes.length >= (if (major == 1) 10 else 12),
      s"truncated npy header in $path")
    val (headerLen, headerOff) =
      if (major == 1) (ByteBuffer.wrap(bytes, 8, 2).order(ByteOrder.LITTLE_ENDIAN).getShort.toInt, 10)
      else (ByteBuffer.wrap(bytes, 8, 4).order(ByteOrder.LITTLE_ENDIAN).getInt, 12)
    val header = new String(bytes, headerOff, headerLen, "ASCII")
    "'descr'\\s*:\\s*'([^']+)'".r.findFirstMatchIn(header).get.group(1)
  }

  /** In-place conversion of a fast-plaid-built index directory to the
    * nextplaid dtype contract — the reference's
    * convert_fastplaid_to_nextplaid (mmap.rs:1757-1812): the four
    * float side files f2→f4, ivf_lengths.npy i8→i4, and `<u1`
    * residual descriptors normalized to `|u1` (byte order is
    * meaningless at 1 byte; the reference's loader accepts only the
    * `|` form). Returns true when anything was rewritten.
    * [[importIndex]] reads BOTH forms directly — this exists for
    * format parity, so a converted directory round-trips through
    * reference tooling too. */
  def convertFastPlaid(dir: String): Boolean = {
    var converted = false
    Seq("centroids.npy", "avg_residual.npy",
        "bucket_cutoffs.npy", "bucket_weights.npy").foreach { f =>
      val p = s"$dir/$f"
      if (Files.exists(Paths.get(p))) {
        val npy = readNpy(p)
        if (npy.descr == "f2") {
          val xs = floats(npy)
          val b = ByteBuffer.allocate(xs.length * 4).order(ByteOrder.LITTLE_ENDIAN)
          xs.foreach(b.putFloat)
          writeNpy(p, "f4", npy.shape, b.array())
          converted = true
        }
      }
    }
    val ivf = s"$dir/ivf_lengths.npy"
    if (Files.exists(Paths.get(ivf))) {
      val npy = readNpy(ivf)
      if (npy.descr == "i8") {
        val xs = longs(npy)
        require(xs.forall(x => x >= Int.MinValue && x <= Int.MaxValue),
          "ivf_lengths value out of i32 range")
        val b = ByteBuffer.allocate(xs.length * 4).order(ByteOrder.LITTLE_ENDIAN)
        xs.foreach(x => b.putInt(x.toInt))
        writeNpy(ivf, "i4", npy.shape, b.array())
        converted = true
      }
    }
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".residuals.npy")).foreach { f =>
        if (npyDescr(f.getPath) == "<u1") {
          val npy = readNpy(f.getPath)
          val payload = new Array[Byte](npy.data.remaining())
          npy.data.duplicate().get(payload)
          writeNpy(f.getPath, "|u1", npy.shape, payload)
          converted = true
        }
      }
    converted
  }

  def floats(npy: Npy): Array[Float] = {
    val n = npy.shape.product
    val out = new Array[Float](n)
    val buf = npy.data.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    npy.descr match {
      case "f4" => var i = 0; while (i < n) { out(i) = buf.getFloat; i += 1 }
      case "f2" => var i = 0; while (i < n) { out(i) = halfToFloat(buf.getShort); i += 1 }
      case d    => throw new IllegalArgumentException(s"dtype $d not a float type")
    }
    out
  }

  def longs(npy: Npy): Array[Long] = {
    val n = npy.shape.product
    val out = new Array[Long](n)
    val buf = npy.data.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    npy.descr match {
      case "i8" => var i = 0; while (i < n) { out(i) = buf.getLong; i += 1 }
      case "i4" => var i = 0; while (i < n) { out(i) = buf.getInt.toLong; i += 1 }
      case d    => throw new IllegalArgumentException(s"dtype $d not an int type")
    }
    out
  }

  def bytes2d(npy: Npy): Array[Array[Byte]] = {
    require(npy.descr == "u1", s"expected u1, got ${npy.descr}")
    require(npy.shape.length == 2, "expected 2-d residuals")
    val Seq(rows, cols) = npy.shape
    val buf = npy.data.duplicate()
    Array.fill(rows) { val r = new Array[Byte](cols); buf.get(r); r }
  }

  /** Write an npy (v1) file — used by round-trip tests and export.
    * `descr` may carry an explicit byte-order prefix (`<f4`, `|u1`);
    * a bare dtype gets the little-endian `<` prefix. */
  def writeNpy(path: String, descr: String, shape: Seq[Int], payload: Array[Byte]): Unit = {
    val shapeStr =
      if (shape.length == 1) s"(${shape.head},)" else shape.mkString("(", ", ", ")")
    val d = if (descr.startsWith("<") || descr.startsWith("|") ||
      descr.startsWith(">")) descr else s"<$descr"
    var header = s"{'descr': '$d', 'fortran_order': False, 'shape': $shapeStr, }"
    val total = 10 + header.length + 1
    val pad = (64 - total % 64) % 64
    header = header + (" " * pad) + "\n"
    val out = ByteBuffer.allocate(10 + header.length + payload.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.put(0x93.toByte).put("NUMPY".getBytes("ASCII")).put(1.toByte).put(0.toByte)
    out.putShort(header.length.toShort).put(header.getBytes("ASCII")).put(payload)
    Files.write(Paths.get(path), out.array())
  }

  /** Import a reference index directory (centroids/cutoffs/weights/
    * avg_residual/cluster_threshold npy, per-chunk codes/residuals npy +
    * doclens json, plan.json) into the parquet index layout at
    * `outPath`. Returns the imported index. */
  def importIndex(spark: SparkSession, refDir: String, outPath: String): MultiVectorIndex = {
    import spark.implicits._
    val mapper = MultiVectorIndex.jsonMapper

    val centroidsNpy = readNpy(s"$refDir/centroids.npy")
    val centroids = floats(centroidsNpy)
    val dim = centroidsNpy.shape(1)
    val cutoffs = floats(readNpy(s"$refDir/bucket_cutoffs.npy"))
    val weights = floats(readNpy(s"$refDir/bucket_weights.npy"))
    val avgResidual = floats(readNpy(s"$refDir/avg_residual.npy"))
    val threshold = floats(readNpy(s"$refDir/cluster_threshold.npy"))(0)
    val plan = mapper.readTree(Files.readAllBytes(Paths.get(s"$refDir/plan.json")))
    val nbits = plan.get("nbits").asInt()
    val numChunks = plan.get("num_chunks").asInt()

    val codec = Codec(dim, centroids,
      new graft.core.Quantizer(nbits, cutoffs, weights), avgResidual, threshold)
    MultiVectorIndex.saveCodec(spark, outPath, codec)

    // chunks: doc ids are dense in chunk order; token rows carry the
    // packed residual bytes unchanged. Each reference chunk (~50k docs)
    // is parsed and flushed to parquet independently, so driver memory
    // is bounded by ONE chunk regardless of index size — an index-wide
    // row buffer would OOM the driver on a real import.
    graft.util.Fs.deleteRecursively(s"$outPath/tokens_in")
    var docOffset = 0L
    var numTokens = 0L
    (0 until numChunks).foreach { k =>
      val codes = longs(readNpy(s"$refDir/$k.codes.npy"))
      val residuals = bytes2d(readNpy(s"$refDir/$k.residuals.npy"))
      val doclens = {
        val node = mapper.readTree(Files.readAllBytes(Paths.get(s"$refDir/doclens.$k.json")))
        Array.tabulate(node.size())(i => node.get(i).asLong())
      }
      val chunkRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int, Array[Byte])]
      var t = 0
      doclens.zipWithIndex.foreach { case (len, d) =>
        var tok = 0
        while (tok < len) {
          chunkRows += ((docOffset + d, tok, codes(t).toInt, residuals(t)))
          t += 1; tok += 1
        }
      }
      chunkRows.toSeq.toDF("doc_id", "tok", "code", "residual")
        .write.mode(SaveMode.Append).parquet(s"$outPath/tokens_in")
      docOffset += doclens.length
      numTokens += t
    }
    // the staged rows are the writer's batch (read once per table)
    IndexWriter.write(spark, outPath, graft.util.Fs.readParquet(spark, s"$outPath/tokens_in"),
      IndexWriter.Fresh(numTokens))
    graft.util.Fs.deleteRecursively(s"$outPath/tokens_in")
    MultiVectorIndex.writeManifest(outPath, Map(
      "nbits" -> nbits.toString,
      "embedding_dim" -> dim.toString,
      "num_partitions" -> (centroids.length / dim).toString,
      "seed" -> "42") ++ IndexWriter.counts(docOffset, numTokens))
    new MultiVectorIndex(spark, outPath)
  }

  /** B11 inverse: export a parquet index as a reference-format npy
    * directory (the same file contract [[importIndex]] reads —
    * centroids/cutoffs/weights/avg_residual/cluster_threshold npy,
    * per-chunk `k.codes.npy` (i8) + `k.residuals.npy` (u1, [T × B]) +
    * `doclens.k.json`, and `plan.json`). Docs are chunked in id order
    * (`chunkDocs` per chunk, reference default 50k — index.rs:88-102),
    * so driver memory is bounded by one chunk exactly as on import. */
  def exportIndex(idx: MultiVectorIndex, outDir: String, chunkDocs: Int = 50000): Unit = {
    val codec = idx.codec
    val q = codec.quantizer
    Files.createDirectories(Paths.get(outDir))

    def writeFloats(name: String, xs: Array[Float], shape: Seq[Int]): Unit = {
      val b = ByteBuffer.allocate(xs.length * 4).order(ByteOrder.LITTLE_ENDIAN)
      xs.foreach(b.putFloat)
      writeNpy(s"$outDir/$name", "f4", shape, b.array())
    }
    writeFloats("centroids.npy", codec.centroids,
      Seq(codec.numCentroids, codec.dim))
    writeFloats("bucket_cutoffs.npy", q.bucketCutoffs, Seq(q.bucketCutoffs.length))
    writeFloats("bucket_weights.npy", q.bucketWeights, Seq(q.bucketWeights.length))
    writeFloats("avg_residual.npy", codec.avgResidual, Seq(codec.avgResidual.length))
    writeFloats("cluster_threshold.npy", Array(codec.clusterThreshold), Seq(1))

    val mapper = MultiVectorIndex.jsonMapper
    val nDocs = idx.numDocuments
    val numChunks = math.max(1L, (nDocs + chunkDocs - 1) / chunkDocs).toInt
    var numTokens = 0L
    (0 until numChunks).foreach { k =>
      val lo = k.toLong * chunkDocs
      val hi = math.min(nDocs, lo + chunkDocs)
      // one chunk's tokens in (doc, tok) order — bounded collect
      val rows = idx.tokens
        .filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select("doc_id", "tok", "code", "residual")
        .orderBy("doc_id", "tok")
        .collect()
      val t = rows.length
      val cb = ByteBuffer.allocate(t * 8).order(ByteOrder.LITTLE_ENDIAN)
      rows.foreach(r => cb.putLong(r.getInt(2).toLong))
      writeNpy(s"$outDir/$k.codes.npy", "i8", Seq(t), cb.array())
      val bytesPer = if (t == 0) 0 else rows(0).getAs[Array[Byte]](3).length
      val rb = ByteBuffer.allocate(t * bytesPer)
      rows.foreach(r => rb.put(r.getAs[Array[Byte]](3)))
      writeNpy(s"$outDir/$k.residuals.npy", "u1", Seq(t, bytesPer), rb.array())
      val doclens = {
        val m = new Array[Long]((hi - lo).toInt)
        rows.foreach(r => m((r.getLong(0) - lo).toInt) += 1)
        m
      }
      Files.write(Paths.get(s"$outDir/doclens.$k.json"),
        doclens.mkString("[", ",", "]").getBytes("UTF-8"))
      numTokens += t
    }
    val plan = mapper.createObjectNode()
    plan.put("nbits", q.nbits)
    plan.put("num_chunks", numChunks)
    plan.put("num_documents", nDocs)
    plan.put("num_embeddings", numTokens)
    Files.write(Paths.get(s"$outDir/plan.json"), mapper.writeValueAsBytes(plan))
  }
}
