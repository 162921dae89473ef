package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.core.{MaxSim, Quantizer, Ward}
import graft.search.Searcher

/** Property-based checks over the pure kernels (no SparkSession):
  * selection, probing, Ward pooling, MaxSim, tokenization. */
object KernelProperties extends Properties("kernels") {

  private val floatGen = Gen.chooseNum(-10.0f, 10.0f)
  private val vecGen: Gen[Array[Float]] =
    Gen.chooseNum(1, 8).flatMap(d => Gen.listOfN(d, floatGen).map(_.toArray))

  // ---- topNIndices: a correct bounded selection ----

  property("topNIndices selects a maximal value set of the right size") =
    forAll(Gen.nonEmptyListOf(floatGen), Gen.chooseNum(1, 12)) { (xs, n) =>
      val arr = xs.toArray
      val sel = Searcher.topNIndices(arr, n)
      val selSet = sel.toSet
      val unselected = arr.indices.filterNot(selSet)
      Prop(sel.length == math.min(n, arr.length)) &&
        Prop(sel.distinct.length == sel.length) &&
        Prop(unselected.isEmpty || sel.isEmpty ||
          sel.map(arr(_)).min >= unselected.map(arr(_)).max)
    }

  property("topNIndices never admits a NaN below the exhaustive cutoff") =
    forAll(
      Gen.nonEmptyListOf(Gen.frequency(4 -> floatGen, 1 -> Gen.const(Float.NaN))),
      Gen.chooseNum(1, 12)) { (xs, n) =>
      val arr = xs.toArray
      val sel = Searcher.topNIndices(arr, n)
      if (n >= arr.length)
        // documented early path: exhaustive selection returns every index
        Prop(sel.toSeq == arr.indices.toSeq)
      else {
        val selSet = sel.toSet
        val finite = arr.indices.filterNot(i => arr(i).isNaN)
        val unselected = finite.filterNot(selSet)
        // a NaN admitted into the heap froze eviction pre-r15; the guard
        // must keep the selection NaN-free AND still maximal over the
        // finite values
        Prop(sel.forall(i => !arr(i).isNaN)) &&
          Prop(sel.length == math.min(n, finite.length)) &&
          Prop(unselected.isEmpty || sel.isEmpty ||
            sel.map(arr(_)).min >= unselected.map(arr(_)).max)
      }
    }

  property("quantizer bit-pack roundtrip == bucketOf == linear cutoff count, nbits 1..8") =
    forAll(Gen.chooseNum(1, 8), Gen.nonEmptyListOf(
      Gen.frequency(8 -> floatGen, 1 -> Gen.const(Float.NaN)))) { (nbits, vs) =>
      // dim*nbits must be byte-aligned: pad to a multiple of 8 dims
      val dim = math.max(8, (vs.length + 7) / 8 * 8)
      val r = Array.tabulate(dim)(i => if (i < vs.length) vs(i) else 0.0f)
      val n = 1 << nbits
      val cutoffs = Array.tabulate(n - 1)(i => -10.0f + 20.0f * (i + 1) / n)
      val weights = Array.tabulate(n)(i => -10.0f + 20.0f * (i + 0.5f) / n)
      val qz = new Quantizer(nbits, cutoffs, weights)
      val expect = r.map(qz.bucketOf)
      val got = qz.unpackBuckets(qz.quantize(r), dim)
      // binary search must agree with the reference's literal filter-count
      // (val > c), including NaN → bucket 0 (NaN compares false)
      val linear = r.map(v => cutoffs.count(v > _))
      Prop(got.sameElements(expect)) && Prop(expect.sameElements(linear)) &&
        Prop(expect.forall(b => b >= 0 && b < n))
    }

  /** The bit-at-a-time S7 decode the byte lookup replaced: bucket bits
    * read one by one from the MSB-first stream, centroid + weight per
    * dim, L2-normalized with the 1e-12 floor. */
  private def bitLoopDecode(qz: Quantizer, packed: Array[Byte], centroid: Array[Float]): Array[Float] = {
    val out = new Array[Float](centroid.length)
    var sumSq = 0.0f
    var bitIdx = 0
    for (i <- centroid.indices) {
      var bucket = 0
      for (b <- 0 until qz.nbits) {
        bucket |= ((packed(bitIdx / 8) >> (7 - bitIdx % 8)) & 1) << b
        bitIdx += 1
      }
      val v = centroid(i) + qz.bucketWeights(bucket)
      out(i) = v
      sumSq += v * v
    }
    val norm = math.max(math.sqrt(sumSq.toDouble).toFloat, 1e-12f)
    out.map(_ / norm)
  }

  property("S7 decode (byte lookup and bit loop) is bit-identical to the bit-loop reference") =
    forAll(Gen.oneOf(1, 2, 3, 4, 8), Gen.oneOf(8, 16, 24, 64, 128), Gen.long) { (nbits, dim, seed) =>
      val rnd = new scala.util.Random(seed)
      val n = 1 << nbits
      val cutoffs = Array.tabulate(n - 1)(i => -1.0f + 2.0f * (i + 1) / n)
      // bucket 0 weighs exactly 0, so an all-zero packed token over the
      // zero centroid decodes to the zero vector through the norm floor
      val weights = Array.tabulate(n)(i => if (i == 0) 0.0f else rnd.nextFloat() * 2 - 1)
      val qz = new Quantizer(nbits, cutoffs, weights)
      val k = 3
      val cents = Array.tabulate(k * dim)(i => if (i < dim) 0.0f else rnd.nextFloat() * 2 - 1)
      val codec = graft.index.Codec(dim, cents, qz, new Array[Float](dim), 0.0f)
      val tokens = (new Array[Byte](qz.packedDim(dim)), 0) +:
        Seq.fill(6)((Array.fill(qz.packedDim(dim))(rnd.nextInt(256).toByte), rnd.nextInt(k)))
      def bits(v: Array[Float]) = v.map(java.lang.Float.floatToRawIntBits).toSeq
      Prop.all(tokens.map { case (packed, code) =>
        val row = java.util.Arrays.copyOfRange(cents, code * dim, (code + 1) * dim)
        val expect = bits(bitLoopDecode(qz, packed, row))
        Prop(bits(codec.decode(code, packed)) == expect) &&
          Prop(bits(qz.decompress(packed, row)) == expect)
      }: _*)
    }

  private def nanMatGen(dim: Int, rows: Gen[Int]): Gen[Array[Array[Float]]] =
    rows.flatMap(t => Gen.listOfN(t,
      Gen.listOfN(dim, Gen.frequency(15 -> floatGen, 1 -> Gen.const(Float.NaN)))
        .map(_.toArray)).map(_.toArray))

  property("scoreFast (serving kernel) tracks scoreDouble (oracle kernel) under NaN injection") =
    forAll(Gen.chooseNum(1, 16).flatMap(d =>
      Gen.zip(nanMatGen(d, Gen.chooseNum(1, 4)), nanMatGen(d, Gen.chooseNum(1, 5))))) {
      case (q, doc) =>
        val fast = MaxSim.scoreFast(q, doc).toDouble
        val dbl = MaxSim.scoreDouble(q, doc)
        // same NaN-safe max/drop semantics; only f32-vs-f64 accumulation
        // differs, so agreement is within f32 tolerance at these scales
        Prop(math.abs(fast - dbl) <= 1e-3 * (1.0 + math.abs(dbl)))
    }

  // ---- probeCentroids vs a naive reference ----

  private val matrixGen: Gen[Array[Array[Float]]] = for {
    k <- Gen.chooseNum(1, 10)
    t <- Gen.chooseNum(1, 5)
    rows <- Gen.listOfN(t, Gen.listOfN(k, floatGen).map(_.toArray))
  } yield rows.toArray

  property("probeCentroids is bounded by naive top-n (tie-tolerant) + any-token threshold") =
    forAll(matrixGen, Gen.chooseNum(1, 5), Gen.chooseNum(-5.0f, 5.0f)) { (m, n, t) =>
      val got = Searcher.probeCentroids(m, n, Some(t)).toSet
      def nth(row: Array[Float]): Float = {
        val sorted = row.sorted(Ordering[Float].reverse)
        sorted(math.min(n, sorted.length) - 1)
      }
      // any index strictly above a row's nth value MUST be selected by
      // that row; any selected index is >= some row's nth value
      val mustSelect = m.flatMap { row =>
        val v = nth(row); row.indices.filter(row(_) > v)
      }.toSet
      val maySelect = m.flatMap { row =>
        val v = nth(row); row.indices.filter(row(_) >= v)
      }.toSet
      def passes(c: Int) = m.exists(row => !row(c).isNaN && row(c) >= t)
      Prop(mustSelect.filter(passes).subsetOf(got)) &&
        Prop(got.subsetOf(maySelect.filter(passes)))
    }

  property("probeCentroids honors the eligibility mask") =
    forAll(matrixGen, Gen.chooseNum(1, 5)) { (m, n) =>
      val k = m(0).length
      val mask = Array.tabulate(k)(i => i % 2 == 0)
      Searcher.probeCentroids(m, n, None, Some(mask)).forall(mask(_))
    }

  // ---- Ward pooling ----

  private val docGen: Gen[Array[Array[Float]]] = for {
    n <- Gen.chooseNum(2, 12)
    dim <- Gen.chooseNum(2, 6)
    vecs <- Gen.listOfN(n, Gen.listOfN(dim, Gen.chooseNum(-1.0f, 1.0f)).map(_.toArray))
  } yield vecs.toArray

  property("Ward linkage: n-1 monotone merges ending with all leaves") =
    forAll(docGen) { emb =>
      val merges = Ward.linkage(Ward.pdistCosine(emb), emb.length)
      Prop(merges.length == emb.length - 1) &&
        Prop(merges.zip(merges.drop(1)).forall { case (a, b) => a.dist <= b.dist + 1e-9 }) &&
        Prop(merges.isEmpty || merges.last.size == emb.length)
    }

  property("poolDocument yields ceil(n/f) clusters; factor 1 is identity") =
    forAll(docGen, Gen.chooseNum(1, 5)) { (emb, f) =>
      val out = Ward.poolDocument(emb, f)
      val expect =
        if (f <= 1) emb.length
        else math.min(emb.length, math.max(1, (emb.length + f - 1) / f))
      out.length == expect
    }

  // ---- MaxSim vs naive ----

  property("scoreDouble equals the naive max-over-docs sum") =
    forAll(Gen.nonEmptyListOf(vecGen), Gen.nonEmptyListOf(vecGen)) { (qs, ds) =>
      val q = qs.toArray
      val d = ds.toArray
      val naive = q.map { qv =>
        ds.map { dv =>
          qv.zip(dv).map { case (a, b) => a.toDouble * b.toDouble }.sum
        }.max
      }.sum
      math.abs(MaxSim.scoreDouble(q, d) - naive) < 1e-6
    }

  // ---- tokenizer invariants ----

  private val textGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar, 2 -> Gen.const(' '),
      1 -> Gen.oneOf('-', '_', '.', ',', '!'))).map(_.mkString)

  property("unicode61 tokens are exactly the maximal alnum runs, lowercased") =
    forAll(textGen) { s =>
      val viaRegex = "[A-Za-z0-9]+".r.findAllIn(s).map(_.toLowerCase).toList
      graft.core.Tokenizers.unicode61(s).toList == viaRegex
    }

  property("trigram count is max(len-2, 0) over the lowercased text") =
    forAll(textGen) { s =>
      graft.core.Tokenizers.trigram(s).size == math.max(s.length - 2, 0)
    }

  // operator words mixed into arbitrary text at high frequency so the
  // filter actually fires; the contract is the reference's sanitizer
  // (text_search.rs:949-969): exactly unicode61 tokens minus operators,
  // order and multiplicity preserved
  private val queryGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      3 -> Gen.oneOf("AND", "or", "NoT", "NEAR", "near"),
      5 -> Gen.alphaNumStr.map(_.take(8)),
      1 -> Gen.const("and-near.or"))).map(_.mkString(" "))

  property("sanitizeQueryTerms == unicode61 minus FTS5 operator words, order-preserving") =
    forAll(queryGen) { s =>
      val ops = Set("and", "or", "not", "near")
      val got = graft.core.Tokenizers.sanitizeQueryTerms(s).toList
      val want = graft.core.Tokenizers.unicode61(s).filterNot(ops).toList
      Prop(got == want) && Prop(got.forall(t => !ops(t)))
    }

  // ---- SafeRegex: total function — never throws, never hangs ----

  private val patternishGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      5 -> Gen.alphaNumChar,
      3 -> Gen.oneOf('(', ')', '[', ']', '{', '}', '*', '+', '?', '|', '\\', '.', '^', '$'),
      1 -> Gen.const(' '))).map(_.mkString)

  property("SafeRegex.matches is total over arbitrary pattern-ish strings") =
    forAll(textGen, patternishGen) { (s, p) =>
      // any outcome is fine; throwing or hanging is the failure mode
      val r = graft.meta.SafeRegex.matches(s, p)
      r || !r
    }

  property("SafeRegex agrees with java.util.regex on valid patterns within budget") =
    forAll(textGen, Gen.oneOf("[a-z]+", "\\d\\d", "foo|bar", "a.c", "^x")) { (s, p) =>
      graft.meta.SafeRegex.matches(s, p) ==
        java.util.regex.Pattern.compile(p).matcher(s).find()
    }

  // ---- C1 extraction: total on arbitrary input, spans always valid ----

  private val srcCharGen: Gen[Char] = Gen.frequency(
    (20, Gen.alphaNumChar),
    (6, Gen.oneOf(' ', '\n', '\t')),
    (4, Gen.oneOf('{', '}', '(', ')', '"', '\'', ';', ':', '.', ',')),
    (2, Gen.oneOf('/', '*', '#', '-', '@', '=', '<', '>', '[', ']', '|', '\\')),
    (1, Gen.oneOf('\u00e9', '\u4e2d', '\u00a0')))
  private val srcGen: Gen[String] =
    Gen.listOf(srcCharGen).map(_.mkString)
  private val srcWithKeywordsGen: Gen[String] = for {
    pre <- srcGen
    kw <- Gen.oneOf("def f(", "class X {", "function g()", "fn h(", "-- c\n",
      "CREATE TABLE t (", "<script>", "\"\"\"d\"\"\"", "@doc \"x\"", "let y =")
    post <- srcGen
  } yield pre + kw + post
  private val pathGen: Gen[String] = for {
    stem <- Gen.identifier.map(_.take(10))
    ext <- Gen.oneOf("py", "rs", "java", "lua", "ex", "hs", "ml", "r", "zig",
      "jl", "sql", "css", "vue", "svelte", "html", "md", "yaml", "sh", "xyz", "")
  } yield if (ext.isEmpty) stem else s"$stem.$ext"

  property("extractUnits is total with in-bounds ordered line spans") =
    forAll(pathGen, Gen.oneOf(srcGen, srcWithKeywordsGen)) { (path, src) =>
      val units = graft.operators.CodeUnits.extractUnits(path, src)
      val nLines = src.split("\n", -1).length
      Prop(units.forall(u =>
        u.startLine >= 1 && u.endLine >= u.startLine && u.endLine <= nLines)) &&
        Prop(units.forall(u => graft.operators.CodeUnits.embedText(u) != null))
    }

  // ---- structured-definition fuzz: REAL definition templates with
  // adversarial parameter lists (the class that crashed on python
  // stdlib's bare `_` — pure-random text never composes `def f(self, _)`)
  private val paramGen: Gen[String] = Gen.oneOf(
    "_", "x", "_x", "self", "this", "cls", "x = 1", "*args", "**kw",
    "...rest", "{a, b}", "[c]", "x: Int", "x: Int = 3", "&mut s",
    "_ label: Date", "$php", "int *p", "const T& v", "", " ", "\u00a0")
  private val defGen: Gen[(String, String)] = for {
    ps <- Gen.listOfN(3, paramGen).map(_.mkString(", "))
    body <- Gen.oneOf("return 1", "pass", "x.y()", "f(g(h))", "{ z() }")
    tpl <- Gen.oneOf(
      ("d.py", s"def f($ps):\n    $body\n"),
      ("d.py", s"class C:\n    def m($ps):\n        $body\n"),
      ("d.js", s"function f($ps) {\n  $body\n}\n"),
      ("d.ts", s"function f($ps): number {\n  $body\n}\n"),
      ("d.kt", s"fun f($ps): Int {\n    $body\n}\n"),
      ("d.lua", s"function obj:m($ps)\n  $body\nend\n"),
      ("d.rs", s"fn f($ps) -> i32 {\n    $body\n}\n"),
      ("d.swift", s"func f($ps) -> Int {\n    $body\n}\n"),
      ("d.go", s"func f($ps) int {\n\t$body\n}\n"),
      ("d.c", s"int f($ps) {\n    $body;\n}\n"),
      ("d.rb", s"def f($ps)\n  $body\nend\n"),
      ("d.scala", s"def f($ps): Int = {\n  $body\n}\n"))
  } yield tpl

  // ---- M3 WHERE grammar: the user-facing filter surface must fail
  // ONLY with the typed WhereError — any other exception class on a
  // malformed condition is a bug (the reference's validator returns a
  // typed error too, filtering.rs:107-614)
  private val whereTokGen: Gen[String] = Gen.oneOf(
    "a", "b2", "_c", "?", "=", "!=", "<>", "<", "<=", ">", ">=", "(", ")",
    ",", "AND", "OR", "NOT", "IS", "NULL", "BETWEEN", "IN", "LIKE",
    "REGEXP", "and", "not", "5", "5=5", "';'", "--", "/*", "select",
    "drop", "", " ", "\t")
  private val whereCondGen: Gen[String] =
    Gen.listOf(whereTokGen).map(_.mkString(" "))
  private val whereParamGen: Gen[graft.meta.Where.Param] = Gen.oneOf(
    graft.meta.Where.SStr("x'y\"z"), graft.meta.Where.SLong(-7L),
    graft.meta.Where.SDouble(0.5), graft.meta.Where.SBool(true),
    graft.meta.Where.SNull)

  property("WHERE grammar: random token soup either renders or throws the typed WhereError") =
    forAll(whereCondGen, Gen.listOf(whereParamGen)) { (cond, params) =>
      try {
        val sql = graft.meta.Where.toSparkSql(cond, params, Seq("a", "b2", "_c"))
        // a rendered predicate must at least be non-empty and balanced
        Prop(sql.nonEmpty &&
          sql.count(_ == '(') == sql.count(_ == ')'))
      } catch {
        case _: graft.meta.Where.WhereError => Prop(true)
        case e: Throwable => Prop.falsified :| s"non-typed exception: $e on <<$cond>>"
      }
    }

  // ---- B11 npy reader: corrupt files fail with typed errors only ----
  private val npyBytesGen: Gen[Array[Byte]] = {
    val magic = Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y')
    val junk = Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray)
    Gen.oneOf(
      junk, // arbitrary garbage
      junk.map(j => magic ++ j), // right magic, garbage header
      // plausible header with fuzzed pieces
      for {
        v <- Gen.oneOf(1.toByte, 2.toByte, 9.toByte)
        hl <- Gen.chooseNum(-5, 400)
        body <- Gen.oneOf(
          "{'descr': '<f4', 'fortran_order': False, 'shape': (2, 3), }",
          "{'descr': '<f4', 'shape': (2, 3), }",
          "{'descr': '<f4', 'fortran_order': False, 'shape': (x, 3), }",
          "{'descr': '<f4', 'fortran_order': True, 'shape': (2,), }",
          "{'descr': '<f4', 'fortran_order': False, 'shape': (-2,), }",
          "garbage")
      } yield {
        val b = new java.io.ByteArrayOutputStream()
        b.write(magic); b.write(v); b.write(0)
        b.write(hl & 0xff); b.write((hl >> 8) & 0xff)
        b.write(body.getBytes("ASCII"))
        b.toByteArray
      })
  }

  // ---- C4 glob conversion: every user glob must compile ----
  private val globGen: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar.map(_.toString), Gen.oneOf("*", "**", "?", "/", ".",
      "[", "]", "{", "}", "(", ")", "+", "^", "$", "|", "\\", "-", "!")))
    .map(_.mkString)

  property("globToRegex output always compiles and ? never matches '/'") =
    forAll(globGen) { g =>
      try {
        val p = java.util.regex.Pattern.compile(
          graft.operators.Rankers.globToRegex(g))
        // '?' is a single NON-separator char in glob semantics
        Prop(g != "?" || !p.matcher("/").matches())
      } catch {
        case e: java.util.regex.PatternSyntaxException =>
          Prop.falsified :| s"glob <<$g>> produced invalid regex: ${e.getMessage}"
      }
    }

  property("readNpy on corrupt bytes fails ONLY with IllegalArgumentException") =
    forAll(npyBytesGen) { bytes =>
      val f = java.nio.file.Files.createTempFile("npyfuzz", ".npy")
      try {
        java.nio.file.Files.write(f, bytes)
        try { graft.sources.NpyImport.readNpy(f.toString); Prop(true) }
        catch {
          case _: IllegalArgumentException => Prop(true)
          case e: Throwable => Prop.falsified :| s"untyped crash: $e"
        }
      } finally java.nio.file.Files.deleteIfExists(f)
    }

  property("definition templates with adversarial params: total + deterministic") =
    forAll(defGen) { case (path, src) =>
      val u1 = graft.operators.CodeUnits.extractUnits(path, src)
      val u2 = graft.operators.CodeUnits.extractUnits(path, src)
      Prop(u1 == u2) &&
        Prop(u1.forall(u => graft.operators.CodeUnits.embedText(u) != null)) &&
        Prop(u1.forall(u => u.parameters.forall(p => p != null && p.nonEmpty)))
    }
}
