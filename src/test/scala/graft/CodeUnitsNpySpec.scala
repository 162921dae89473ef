package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CodeUnits
import graft.search.SearchParams
import graft.sources.NpyImport

/** C1/C2/C7/C8 colgrep application operators and B11 npy index import. */
class CodeUnitsNpySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val pySource =
    """import os
      |
      |MAX_SIZE = 100
      |
      |def parse_header(data):
      |    check(data)
      |    return data[0]
      |
      |class Reader:
      |    def read(self):
      |        return parse_header(self.buf)
      |""".stripMargin

  test("C1: extractUnits finds functions, classes, constants with line spans and calls") {
    val units = CodeUnits.extractUnits("lib/io/FileReader.py", pySource)
    val byName = units.map(u => u.name -> u).toMap
    assert(byName.contains("MAX_SIZE") && byName("MAX_SIZE").kind === "constant")
    assert(byName("parse_header").kind === "function")
    assert(byName("parse_header").calls.contains("check"))
    assert(byName("Reader").kind === "class")
    assert(byName("parse_header").startLine === 5)
    assert(units.forall(u => u.endLine >= u.startLine))
    // text formats -> one document unit per file (text.rs:18-58)
    val doc = CodeUnits.extractUnits("notes.txt", "just some text\nmore")
    assert(doc.length === 1 && doc.head.kind === "document")
    assert(doc.head.name === "notes" && doc.head.signature === "just some text")
    assert(doc.head.docstring === "just some text more")
    assert(doc.head.qualifiedName === "notes.txt::notes")
    // a code file with no definitions is still a raw_code unit
    val raw = CodeUnits.extractUnits("empty.py", "# nothing here\n")
    assert(raw.length === 1 && raw.head.kind === "raw_code")
  }

  test("C1 layers: docstring/params/returns/calledBy/flow/vars/imports (Python)") {
    val src =
      """import os
        |from collections import defaultdict
        |
        |def parse_header(data, strict=True):
        |    '''Parse the file header.
        |    Returns the first record.'''
        |    size = len(data)
        |    if strict:
        |        for b in data:
        |            check(b)
        |    try:
        |        return data[0]
        |    except IndexError:
        |        return None
        |
        |def check(b):
        |    assert b >= 0
        |""".stripMargin
    val byName = CodeUnits.extractUnits("lib/parser.py", src).map(u => u.name -> u).toMap
    val ph = byName("parse_header")
    assert(ph.kind === "function" && ph.parentClass === "" && ph.qualifiedName === "parse_header")
    // reference parity (analysis.rs:102-121): an INDENTED docstring
    // keeps its opening quotes (the indent shields them from the
    // end-trim); the closing quotes are stripped
    assert(ph.docstring.startsWith("'''Parse the file header."))
    assert(!ph.docstring.endsWith("'''"))
    assert(ph.parameters === Seq("data", "strict"))
    assert(ph.hasLoops && ph.hasBranches && ph.hasErrorHandling)
    assert(ph.complexity > 1)
    assert(ph.variables.contains("size"))
    // python Uses parity: only plain `import X` surfaces (module name);
    // `from collections import ...` does not (analysis.rs fixtures)
    assert(ph.imports === Seq("os"))
    // file-local reverse call edge: check is called by parse_header
    assert(byName("check").calledBy === Seq("parse_header"))
    assert(!byName("check").hasLoops)
  }

  test("C1 layers: comment docstring, return type, params (Scala)") {
    val src =
      """import scala.collection.mutable
        |
        |/** Sums the positive entries. */
        |def sumPositive(xs: Seq[Int], floor: Int): Int = {
        |  val total = xs.filter(_ > floor).sum
        |  total
        |}
        |
        |def caller(): Int = sumPositive(Seq(1), 0)
        |""".stripMargin
    val byName = CodeUnits.extractUnits("util/Math.scala", src).map(u => u.name -> u).toMap
    val sp = byName("sumPositive")
    assert(sp.docstring === "Sums the positive entries.")
    assert(sp.parameters === Seq("xs", "floor"))
    assert(sp.returnType === "Int")
    assert(sp.variables.contains("total"))
    // qualified-import langs keep the LAST component (reference:
    // "java.util.Arrays" -> "Arrays"); here scala.collection.mutable
    assert(sp.imports.contains("mutable"))
    assert(sp.calledBy === Seq("caller"))
    // the layers flow into the C2 embedding text
    val txt = CodeUnits.embedText(sp)
    assert(txt.contains("Description: Sums the positive entries."))
    assert(txt.contains("Parameters: xs, floor"))
    // the returnType FIELD is populated, but scala/kotlin/swift/php
    // embed text never renders Returns (reference parity — their
    // grammars don't extract it, 0 fixture occurrences)
    assert(sp.returnType === "Int" && !txt.contains("Returns:"))
    assert(txt.contains("Called by: caller"))
    assert(txt.contains("Uses: mutable"))
    // the Flow layer stays on the row; the reference's embed text
    // does not render it (embed.rs has no Flow section)
    assert(!txt.contains("Flow:") && sp.complexity >= 1)
  }

  test("C1: Go method receivers and Ruby self-methods resolve to the method name") {
    val goSrc =
      """func (s *Server) Handle(w http.ResponseWriter, r *http.Request) error {
        |	return s.inner(w)
        |}
        |func plain(x int) int { return x }
        |""".stripMargin
    val go = CodeUnits.extractUnits("srv/handler.go", goSrc).map(u => u.name -> u).toMap
    assert(go.contains("Handle"), s"got: ${go.keys}")
    assert(go("Handle").parameters.headOption === Some("w"))
    assert(go.contains("plain"))

    val rbSrc = "def self.build(opts)\n  new(opts)\nend\n"
    val rb = CodeUnits.extractUnits("lib/factory.rb", rbSrc)
    assert(rb.head.name === "build")
  }

  test("C1 layers: methods get parent class, qualified name, and extends") {
    val src =
      """class Base:
        |    def ping(self):
        |        return 1
        |
        |class Reader(Base):
        |    def read(self, n):
        |        return self.buf[:n]
        |
        |def standalone():
        |    return 2
        |""".stripMargin
    val units = CodeUnits.extractUnits("lib/reader.py", src)
    val byQn = units.map(u => u.qualifiedName -> u).toMap
    assert(byQn("Reader.read").kind === "method")
    assert(byQn("Reader.read").parentClass === "Reader")
    assert(byQn("Reader.read").parameters === Seq("self", "n"))
    assert(byQn("Reader").extendsClass === "Base")
    assert(byQn("Base").extendsClass === "")
    assert(byQn("standalone").kind === "function" && byQn("standalone").parentClass === "")
    val txt = CodeUnits.embedText(byQn("Reader.read"))
    assert(txt.startsWith("Method: read\n"), "bare name in the header (embed.rs:133)")
    assert(txt.contains("Class: Reader"))
  }

  test("C1: modifier-first C#/Java methods, Kotlin fun, Swift extension, PHP") {
    val csSrc =
      """public class Calculator {
        |    public static int Add(int a, int b) {
        |        return a + b;
        |    }
        |    private async Task<List<int>> FetchAll(string url) {
        |        return await get(url);
        |    }
        |}
        |""".stripMargin
    val cs = CodeUnits.extractUnits("src/Calculator.cs", csSrc)
      .map(u => u.name -> u).toMap
    assert(cs("Calculator").kind === "class")
    assert(cs("Add").kind === "method" && cs("Add").parentClass === "Calculator")
    assert(cs("Add").qualifiedName === "Calculator.Add")
    assert(cs("FetchAll").kind === "method" && cs("FetchAll").calls.contains("get"))

    val javaSrc =
      """public class Main {
        |    public static void main(String[] args) {
        |        if (args.length > 0) {
        |            run(args);
        |        }
        |    }
        |}
        |""".stripMargin
    val jv = CodeUnits.extractUnits("src/Main.java", javaSrc).map(u => u.name -> u).toMap
    assert(jv("main").kind === "method" && jv("main").parentClass === "Main")
    assert(jv("main").calls.contains("run"))
    assert(!jv("main").calls.contains("if"), "CallStop must drop control-flow keywords")

    val ktSrc =
      """class Greeter(val name: String) {
        |    fun greet(msg: String): String {
        |        return format(msg)
        |    }
        |}
        |fun topLevel(): Int = 1
        |""".stripMargin
    val kt = CodeUnits.extractUnits("app/Greeter.kt", ktSrc).map(u => u.name -> u).toMap
    assert(kt("greet").kind === "method" && kt("greet").parentClass === "Greeter")
    assert(kt("greet").calls.contains("format"))
    assert(kt("topLevel").kind === "function" && kt("topLevel").parentClass === "")

    val swiftSrc =
      """struct Point {
        |    var x: Int = 0
        |}
        |extension Point {
        |    mutating func move(dx: Int) {
        |        x += dx
        |    }
        |}
        |""".stripMargin
    val sw = CodeUnits.extractUnits("Sources/Point.swift", swiftSrc)
      .map(u => u.name -> u).toMap
    assert(sw("Point").kind === "class")
    assert(sw("move").kind === "method" && sw("move").parentClass === "Point")

    val phpSrc =
      """class Db {
        |    public function query($sql) {
        |        return $sql;
        |    }
        |}
        |function helper($x) { return $x; }
        |""".stripMargin
    val php = CodeUnits.extractUnits("lib/Db.php", phpSrc).map(u => u.name -> u).toMap
    assert(php("query").kind === "method" && php("query").parentClass === "Db")
    assert(php("helper").kind === "function" && php("helper").parentClass === "")
  }

  test("C1: Lua dotted/colon method names, Elixir defmodule/defp, Julia structs/macros") {
    val luaSrc =
      """local M = {}
        |local function helper(x)
        |  return x + 1
        |end
        |function M.insert(item)
        |  return helper(item)
        |end
        |function M:get(i)
        |  return self.items[i]
        |end
        |""".stripMargin
    val lua = CodeUnits.extractUnits("lib/list.lua", luaSrc).map(u => u.name -> u).toMap
    assert(lua("helper").kind === "function")
    // tree-sitter-lua keeps the FULL dotted/colon text as the unit name
    // and emits plain Functions, no parent (test_lua.rs:107,164,254,270)
    assert(lua("M.insert").kind === "function" && lua("M.insert").parentClass === "")
    assert(lua("M:get").kind === "function" && lua("M:get").parentClass === "")
    // the declaration line is not a self-call; the body's call edge stays
    assert(lua("M.insert").calls === Seq("helper"))

    val exSrc =
      """defmodule Cache do
        |  def get(key) do
        |    fetch(key)
        |  end
        |  defp fetch(key) do
        |    key
        |  end
        |  defmacro log(x) do
        |    x
        |  end
        |end
        |""".stripMargin
    val exDotted = CodeUnits.extractUnits("lib/app.ex",
      "defmodule MyApp.Cache do\n  def get(k) do\n    k\n  end\nend\n")
      .map(u => u.name -> u).toMap
    assert(exDotted.contains("MyApp.Cache"))
    assert(exDotted("get").parentClass === "MyApp.Cache")
    val ex = CodeUnits.extractUnits("lib/cache.ex", exSrc).map(u => u.name -> u).toMap
    assert(ex("Cache").kind === "class")
    assert(ex("get").kind === "method" && ex("get").parentClass === "Cache")
    assert(ex("fetch").kind === "method" && ex("fetch").calledBy.contains("get"))
    assert(ex("log").kind === "method")

    val jlSrc =
      """abstract type Shape end
        |mutable struct Point
        |    x::Float64
        |end
        |function area(p)
        |    p.x * 2
        |end
        |macro trace(ex)
        |    ex
        |end
        |""".stripMargin
    val jl = CodeUnits.extractUnits("src/geom.jl", jlSrc).map(u => u.name -> u).toMap
    assert(jl("Shape").kind === "class" && jl("Point").kind === "class")
    assert(jl("area").kind === "function" && jl("trace").kind === "function")
  }

  test("C1: Haskell signatures, OCaml let/module, R functions, Zig containers, SQL DDL") {
    val hs = CodeUnits.extractUnits("src/Parse.hs",
      "parseHeader :: String -> Int\nparseHeader s = length s\n")
      .map(u => u.name -> u).toMap
    assert(hs("parseHeader").kind === "function")

    val ml = CodeUnits.extractUnits("lib/tree.ml",
      "module Tree = struct\nlet rec walk t = walk t\nlet empty = []\nend\n")
      .map(u => u.name -> u).toMap
    assert(ml("Tree").kind === "class")
    assert(ml("walk").kind === "function" || ml("walk").kind === "method")
    assert(ml.contains("empty"))

    val r = CodeUnits.extractUnits("analysis.R",
      "normalize <- function(x) {\n  x / max(x)\n}\nSCALE = 2\n")
      .map(u => u.name -> u).toMap
    assert(r("normalize").kind === "function")

    val zig = CodeUnits.extractUnits("src/widget.zig",
      "pub const Widget = struct {\n    pub fn init() Widget {\n        return .{};\n    }\n};\n")
      .map(u => u.name -> u).toMap
    assert(zig("Widget").kind === "class")
    assert(zig("init").kind === "method" && zig("init").parentClass === "Widget")

    val sql = CodeUnits.extractUnits("schema.sql",
      """CREATE TABLE users (id INT, name TEXT);
        |create or replace function add_user(n text) returns int as $$ $$;
        |CREATE INDEX IF NOT EXISTS idx_users ON users(name);
        |""".stripMargin).map(u => u.name -> u).toMap
    assert(sql("users").kind === "class")
    assert(sql("add_user").kind === "function")
    assert(sql("idx_users").kind === "class")
  }

  test("C1: text formats become one document unit per file (text.rs semantics)") {
    val md = CodeUnits.extractUnits("docs/guide.md",
      "# Guide\nIntro paragraph here.\n\n## Section 2\nMore.\n")
    assert(md.length === 1)
    assert(md.head.kind === "document" && md.head.name === "guide")
    assert(md.head.signature === "# Guide")
    assert(md.head.docstring === "# Guide Intro paragraph here.")
    assert(md.head.qualifiedName === "docs/guide.md::guide")

    // filename-detected formats
    assert(CodeUnits.languageOf("deploy/Dockerfile") === Some("dockerfile"))
    assert(CodeUnits.languageOf("Makefile") === Some("makefile"))
    assert(CodeUnits.languageOf("GNUmakefile") === Some("makefile"))
    // unknown extensions and extensionless files are skipped (None), not indexed
    assert(CodeUnits.languageOf("data/blob.xyz") === None)
    assert(CodeUnits.languageOf("bin/tool") === None)
    val dk = CodeUnits.extractUnits("deploy/Dockerfile", "FROM alpine\nRUN true\n")
    assert(dk.head.kind === "document" && dk.head.name === "Dockerfile")

    // shell/yaml/json/toml are documents too, not parsed as code
    val sh = CodeUnits.extractUnits("bin/run.sh", "#!/bin/sh\nfoo() { echo hi; }\n")
    assert(sh.length === 1 && sh.head.kind === "document")
    assert(CodeUnits.extractUnits("conf/app.yaml", "key: value\n").head.kind === "document")
    assert(CodeUnits.extractUnits("pkg.json", "{\"a\": 1}\n").head.kind === "document")
    // blank files yield nothing
    assert(CodeUnits.extractUnits("empty.md", "\n  \n") === Seq.empty)
  }

  test("C1: co-located defs on one line get clamped spans, truncated code, no crash") {
    // first line of the file (end = start - 1 used to index lineStart(-1))
    val first = CodeUnits.extractUnits("a.scala", "def a = 1; def b = 2")
    assert(first.map(_.name) === Seq("a", "b"))
    assert(first.forall(u => u.endLine >= u.startLine))
    assert(first.head.code.trim === "def a = 1;")
    assert(first(1).code.trim === "def b = 2")
    assert(first(1).signature === "def b = 2")

    // later line (unitEndOff < endOff used to crash paramsAndReturn)
    val later = CodeUnits.extractUnits("b.js",
      "var top = 1\nfunction a(){}; function b(){}\nfunction c(){}\n")
    val fs = later.filter(_.kind == "function")
    assert(fs.map(_.name) === Seq("a", "b", "c"))
    assert(fs.forall(u => u.endLine >= u.startLine))
    assert(!fs.head.code.contains("function b"))
  }

  test("C1: ';' inside strings, comments, and paren headers does not anchor defs") {
    val str = CodeUnits.extractUnits("s.scala",
      "val msg = \"stop here; def bogus = 1\"\n")
    assert(!str.exists(_.name == "bogus"))

    val cmt = CodeUnits.extractUnits("c.js",
      "// old code; function bogus2(){}\nfunction ok(){}\n")
    assert(cmt.exists(_.name == "ok") && !cmt.exists(_.name == "bogus2"))

    val blk = CodeUnits.extractUnits("k.js",
      "/* x; function bogus3(){} */\nfunction ok2(){}\n")
    assert(blk.exists(_.name == "ok2") && !blk.exists(_.name == "bogus3"))

    // `;` inside a for-header is not a statement boundary
    val hdr = CodeUnits.extractUnits("h.go",
      "func m() {\n  for i := 0; fn ok; i++ {\n  }\n}\n")
    assert(hdr.map(_.name) === Seq("m"))

    // hash comments for hash-comment languages
    val py = CodeUnits.extractUnits("p.py",
      "# setup; def bogus4(): pass\ndef real():\n    pass\n")
    assert(py.exists(_.name == "real") && !py.exists(_.name == "bogus4"))

    // single-quoted strings are full strings in python/js (not the
    // 3-char char-literal heuristic): a long quoted payload must mask
    // its ';'
    val sq = CodeUnits.extractUnits("q.py",
      "x = 'stop here; def bogus5(): pass'\ndef real2():\n    pass\n")
    assert(sq.exists(_.name == "real2") && !sq.exists(_.name == "bogus5"))
    val sqjs = CodeUnits.extractUnits("q.js",
      "var s = 'a; function bogus6(){}'\nfunction ok3(){}\n")
    assert(sqjs.exists(_.name == "ok3") && !sqjs.exists(_.name == "bogus6"))
    // rust lifetimes still never open a string
    val rs = CodeUnits.extractUnits("l.rs",
      "fn f<'a>(x: &'a str) -> &'a str { x }; fn g() {}\n")
    assert(rs.map(_.name) === Seq("f", "g"))

    // a COMPLETE for-statement followed by a ';'-anchored def on the
    // same line is legit in paren-header languages (minified JS) — the
    // for-header guard is Go-only
    val minjs = CodeUnits.extractUnits("m.js",
      "for(i=0;i<n;i++);function init(){}\n")
    assert(minjs.exists(_.name == "init"))

    // multiline strings: a ';' on line 2+ of a JS backtick template or a
    // python triple-quoted string stays masked (the newline bailout is
    // for unterminated '/" strings only)
    val tpl = CodeUnits.extractUnits("t.js",
      "const q = `line one\nstop; function bogus7(){}\n`\nfunction ok4(){}\n")
    assert(tpl.exists(_.name == "ok4") && !tpl.exists(_.name == "bogus7"))
    val triple = CodeUnits.extractUnits("d.py",
      "DOC = \"\"\"first line\nsecond; def bogus8(): pass\n\"\"\"\ndef real3():\n    pass\n")
    assert(triple.exists(_.name == "real3") && !triple.exists(_.name == "bogus8"))
    val triSq = CodeUnits.extractUnits("e.py",
      "DOC = '''x\ny; def bogus9(): pass\n'''\ndef real4():\n    pass\n")
    assert(triSq.exists(_.name == "real4") && !triSq.exists(_.name == "bogus9"))

    // '#' comments are masked for shell (it sits in sqStringLang, so the
    // lexer must also know its comment form; .sh files themselves index
    // as whole-file documents per the reference's is_text_format)
    val shSrc = "# teardown; x\necho 'a;b' # trail; y\n"
    val shMask = CodeUnits.maskedOffsets(shSrc, "shell")
    assert(shMask.get(shSrc.indexOf("; x")), "';' in shell comment unmasked")
    assert(shMask.get(shSrc.indexOf("; y")), "';' in shell trailing comment unmasked")
    assert(shMask.get(shSrc.indexOf(";b")), "';' in shell string unmasked")
    assert(!shMask.get(shSrc.indexOf("echo")), "shell code wrongly masked")
  }

  test("C1: Vue/Svelte/HTML script blocks parse with file-position lines; template unit") {
    val vueSrc =
      """<template>
        |  <div>{{ total }}</div>
        |</template>
        |<script>
        |function compute(items) {
        |  return items.length
        |}
        |const MAX_ITEMS = 10
        |</script>
        |""".stripMargin
    val vue = CodeUnits.extractUnits("ui/App.vue", vueSrc)
    val byName = vue.map(u => u.name -> u).toMap
    assert(byName("compute").kind === "function")
    assert(byName("compute").startLine === 5) // file position, not block position
    assert(byName("compute").language === "vue")
    assert(byName.contains("MAX_ITEMS"))
    assert(byName("template").kind === "raw_code")
    assert(byName("template").code.contains("{{ total }}"))
    assert(byName("template").qualifiedName === "ui/App.vue::template")

    val svSrc =
      """<script>
        |  export function toggle(on) { return !on }
        |</script>
        |<p>Hello {name}</p>
        |<style>p { color: red }</style>
        |""".stripMargin
    val sv = CodeUnits.extractUnits("ui/Hello.svelte", svSrc).map(u => u.name -> u).toMap
    assert(sv("toggle").kind === "function" && sv("toggle").startLine === 2)
    assert(sv("template").code.contains("Hello {name}"))
    assert(!sv("template").code.contains("color: red")) // style excluded

    val htmlSrc =
      """<html><body>
        |<script src="ext.js"></script>
        |<script>
        |function init() { render() }
        |</script>
        |</body></html>
        |""".stripMargin
    val html = CodeUnits.extractUnits("index.html", htmlSrc).map(u => u.name -> u).toMap
    assert(html("init").kind === "function" && html("init").startLine === 4)
    assert(html("html_structure").kind === "raw_code")
    assert(html("html_structure").qualifiedName === "index.html::html_structure")
  }

  test("C1: CSS rules become selector-named sections") {
    val css =
      """/* base { } in a comment */
        |.button:hover {
        |  color: red;
        |}
        |@media (max-width: 600px) {
        |  .nav { display: none; }
        |}
        |""".stripMargin
    val units = CodeUnits.extractUnits("style/main.css", css)
    val names = units.map(_.name)
    assert(names.contains(".button:hover"))
    assert(names.exists(_.startsWith("@media")))
    val hover = units.find(_.name == ".button:hover").get
    assert(hover.kind === "section" && hover.startLine === 2 && hover.endLine === 4)
  }

  test("C1 layer 2: constructor and uppercase calls captured; definitions are not calls") {
    val src =
      """def build(n):
        |    buf = Buffer(n)
        |    opt = Some(5)
        |    return buf
        |class Buffer(Base):
        |    pass
        |""".stripMargin
    val byName = CodeUnits.extractUnits("lib/b.py", src).map(u => u.name -> u).toMap
    assert(byName("build").calls.contains("Buffer"))
    assert(byName("build").calls.contains("Some"))
    // `class Buffer(Base)` is a definition, not a call of Buffer
    assert(!byName("Buffer").calls.contains("Buffer"))
    val js = CodeUnits.extractUnits("a.js",
      "function go() {\n  const w = new Widget(1)\n  items.map(function(x) { return x })\n}\n")
      .map(u => u.name -> u).toMap
    assert(js("go").calls.contains("Widget"))
    assert(!js("go").calls.contains("function")) // anonymous fn keyword
  }

  test("C1 layer 1: dash-comment and @doc docstrings (Lua/Haskell/SQL/Elixir)") {
    // LuaDoc parity: the block needs a `---` anchor line; a bare `--`
    // comment is NOT a docstring (analysis.rs:366-397)
    val lua = CodeUnits.extractUnits("m.lua",
      "--- adds two numbers\nfunction add(a, b)\n  return a + b\nend\n")
    assert(lua.head.docstring === "adds two numbers")
    val luaBare = CodeUnits.extractUnits("m.lua",
      "-- not a docstring\nfunction add(a, b)\n  return a + b\nend\n")
    assert(luaBare.head.docstring === "")
    // Haddock parity: `-- |`/`-- ^` anchors, scanned from the BINDING
    // line — a `::` type signature in between blocks the doc, exactly
    // like the reference (analysis.rs:181-207 breaks on any nonempty
    // non-comment line)
    val hsSig = CodeUnits.extractUnits("P.hs",
      "-- | Parse a header line\nparseHeader :: String -> Int\nparseHeader s = 1\n")
    assert(hsSig.head.docstring === "")
    val sql = CodeUnits.extractUnits("s.sql",
      "-- user accounts\nCREATE TABLE users (id INT);\n")
    assert(sql.head.docstring === "user accounts")
    val ex = CodeUnits.extractUnits("c.ex",
      "defmodule C do\n  @doc \"Fetches a key\"\n  def get(k) do\n    k\n  end\nend\n")
    assert(ex.find(_.name == "get").get.docstring === "Fetches a key")
  }

  test("C1: brace-depth nesting attributes parents regardless of indentation") {
    // methods at zero indent inside a brace-style class still nest
    val src =
      """class Outer {
        |def helper(x: Int): Int = {
        |  x + 1
        |}
        |}
        |def topLevel(): Int = helper(1)
        |""".stripMargin
    val byQn = CodeUnits.extractUnits("src/Outer.scala", src)
      .map(u => u.qualifiedName -> u).toMap
    assert(byQn.contains("Outer.helper"), s"got: ${byQn.keys}")
    assert(byQn("Outer.helper").kind === "method")
    assert(byQn("topLevel").parentClass === "")
  }

  test("C1: Go receiver methods get the receiver type as parent class") {
    val goSrc =
      """func (s *Server) Handle(w io.Writer) error {
        |	return nil
        |}
        |""".stripMargin
    val h = CodeUnits.extractUnits("srv/h.go", goSrc).head
    assert(h.name === "Handle" && h.kind === "method")
    assert(h.parentClass === "Server" && h.qualifiedName === "Server.Handle")
  }

  test("C1: tree-sitter-parity shapes — C funcs, C++ dtor/operator, Go const, JS methods, QML, svelte props, lua colon names") {
    // C: return-type-first free function, no modifier
    val c = CodeUnits.extractUnits("m.c", "int add(int a, int b) {\n    return a + b;\n}\n")
    assert(c.exists(u => u.name == "add" && u.kind == "function"))
    // control flow never matches the two-token shape
    val cIf = CodeUnits.extractUnits("i.c", "void f(void) {\n    else if (x) {\n    }\n}\n")
    assert(!cIf.exists(_.name == "if"))
    // C++: qualified method, operator, destructor with body/default
    val cpp = CodeUnits.extractUnits("s.cpp",
      "double Shape::area() const {\n  return 0;\n}\n" +
      "Vector Vector::operator+(const Vector& o) {\n  return o;\n}\n" +
      "virtual ~Shape() = default;\n")
    assert(cpp.exists(u => u.name == "area" && u.parentClass == "Shape"))
    assert(cpp.exists(_.name == "operator+"))
    assert(cpp.exists(_.name == "~Shape"))
    // a prototype must NOT become a unit (no body)
    val proto = CodeUnits.extractUnits("p.c", "int add(int a, int b);\n")
    assert(!proto.exists(_.name == "add"))
    // Go: CamelCase const
    val goc = CodeUnits.extractUnits("c.go", "const MaxSize = 1024\n")
    assert(goc.exists(u => u.name == "MaxSize" && u.kind == "constant"))
    // JS class-body method + arrow binding
    val js = CodeUnits.extractUnits("k.js",
      "class Calc {\n  add(a, b) {\n    return a + b\n  }\n}\nconst mul = (a, b) => a * b\n")
    assert(js.exists(u => u.name == "add" && u.parentClass == "Calc"))
    assert(js.exists(_.name == "mul"))
    assert(!js.exists(_.name == "if"))
    // QML component/signal/handler/property
    val qml = CodeUnits.extractUnits("a.qml",
      "Rectangle {\n    signal toggled(bool on)\n    property int count\n    onTriggered: {\n        count++\n    }\n}\n")
    assert(qml.exists(u => u.name == "Rectangle" && u.kind == "class"))
    assert(qml.exists(_.name == "toggled"))
    assert(qml.exists(_.name == "count"))
    assert(qml.exists(_.name == "onTriggered"))
    // svelte props
    val sv = CodeUnits.extractUnits("w.svelte",
      "<script>\n  export let name = 'World';\n  function greet() {\n    return name\n  }\n</script>\n<h1>hi</h1>\n")
    assert(sv.exists(u => u.name == "name" && u.kind == "constant"))
    assert(sv.exists(_.name == "greet"))
    // lua colon-method: the WHOLE "obj:method" is the unit name, kind
    // Function, no parent class, and no phantom self-call from the
    // declaration line (test_lua.rs:164-175 pins the full embed text)
    val lua = CodeUnits.extractUnits("o.lua",
      "function obj:method(arg)\n    return self.value + arg\nend\n")
    assert(lua.exists(u => u.name == "obj:method" && u.kind == "function" &&
      u.parentClass == "" && u.calls.isEmpty && u.parameters == Seq("arg")))
  }

  test("C1: a bare `_` parameter does not crash param extraction (python stdlib shape)") {
    // regression: group() after a failed find() threw IllegalState on
    // `def f(self, _)` — 6 of python3.11's stdlib files (typing.py,
    // weakref.py, ...) crashed the r14 parser; corpus sweep is now 0
    // errors across 670 files
    val u = CodeUnits.extractUnits("lib/cb.py",
      "def callback(self, _):\n    return 1\n\ndef two(_, _x):\n    return _x\n")
      .map(x => x.name -> x).toMap
    // python `_` is a real identifier node — the reference emits it
    assert(u("callback").parameters === Seq("self", "_"))
    assert(u("two").parameters === Seq("_", "_x"))
  }

  test("C1 layer 1: modifier-first methods carry parameters and return type") {
    val csSrc =
      """public class Calculator {
        |    public static int Add(int a, int b) {
        |        return a + b;
        |    }
        |}
        |""".stripMargin
    val cs = CodeUnits.extractUnits("src/Calculator.cs", csSrc).map(u => u.name -> u).toMap
    // typed-first params name the declarator, not the type (r14 fix)
    assert(cs("Add").parameters === Seq("a", "b"), s"got: ${cs("Add").parameters}")
    assert(cs("Add").returnType === "int")
    val jv = CodeUnits.extractUnits("src/Main.java",
      "public class Main {\n    public static void main(String[] args) {\n        run(args);\n    }\n}\n")
      .map(u => u.name -> u).toMap
    assert(jv("main").parameters.nonEmpty, "paramsAndReturn must see the paren")
    assert(jv("main").returnType === "void")
  }

  test("C1: braces inside strings/comments do not skew nesting depth") {
    val src =
      """const OPEN = "{";
        |// a stray { in a comment
        |/* and { another { */
        |class Widget {
        |  function render() {
        |    return OPEN;
        |  }
        |}
        |function standalone() { return 1; }
        |""".stripMargin
    val byQn = CodeUnits.extractUnits("ui/widget.js", src).map(u => u.qualifiedName -> u).toMap
    assert(byQn.contains("Widget.render"), s"got: ${byQn.keys}")
    assert(byQn("Widget.render").kind === "method")
    assert(byQn("standalone").parentClass === "",
      s"standalone nested under ${byQn("standalone").parentClass}")
  }

  test("C1: a braceless class (tuple struct / data class) does not swallow the next scope") {
    val rsSrc =
      """struct P(f32);
        |fn helper(x: f32) -> f32 {
        |    x * 2.0
        |}
        |""".stripMargin
    val rs = CodeUnits.extractUnits("src/geom.rs", rsSrc).map(u => u.name -> u).toMap
    assert(rs("helper").parentClass === "", s"helper nested under ${rs("helper").parentClass}")
    assert(rs("helper").kind === "function")

    val ktSrc =
      """data class Point(val x: Int)
        |fun origin(): Point {
        |    return Point(0)
        |}
        |""".stripMargin
    val kt = CodeUnits.extractUnits("app/Point.kt", ktSrc).map(u => u.name -> u).toMap
    assert(kt("origin").parentClass === "", s"origin nested under ${kt("origin").parentClass}")
  }

  test("C1: CallRe does not emit mid-identifier tails after a blocked def keyword") {
    val src = "def process(data):\n    rocess = 1\n    check(data)\n"
    val u = CodeUnits.extractUnits("t.py", src).head
    assert(u.calls === Seq("check"), s"got: ${u.calls}")
  }

  test("C2: truncation counts code points and trims Unicode whitespace (embed.rs:99-111)") {
    import graft.operators.CodeUnits.CodeUnit
    def raw(code: String) = CodeUnit("f.py", "python", "raw_code", "", "",
      1, 1, code, Seq.empty)
    val marker = "\n[...truncated...]\n"
    val cap = 8192
    // 8192 non-BMP chars (each 2 UTF-16 units, 1 scalar char): the
    // reference counts scalar chars, so this is exactly AT the cap —
    // untouched. The old UTF-16 String.length counting truncated it.
    val astral = "😀" // U+1F600
    val atCap = astral * cap
    assert(CodeUnits.embedText(raw(atCap)) === atCap)
    // one over: keep cap - marker chars = 8173 SCALAR chars, then the
    // marker — and the cut never splits a surrogate pair
    val over = astral * (cap + 1)
    val t = CodeUnits.embedText(raw(over))
    assert(t === astral * (cap - marker.length) + marker)
    assert(t.codePointCount(0, t.length) === cap - marker.length + marker.length)
    // Rust trim_end trims Unicode White_Space: NBSP (U+00A0), NNBSP
    // (U+202F), IDEOGRAPHIC SPACE (U+3000) — which neither ASCII \s+
    // nor Java's Character.isWhitespace would catch
    val keep = cap - marker.length // 8173 scalar chars kept pre-trim
    val s2 = "x" * (keep - 4) + "\u0020\u00A0\u202F\u3000" + "y" * 100
    assert(CodeUnits.embedText(raw(s2)) === "x" * (keep - 4) + marker)
  }

  test("C2: embedText builds the header form and normalizes the path") {
    val u = CodeUnits.extractUnits("lib/io/FileReader.py", pySource)
      .find(_.name == "parse_header").get
    val txt = CodeUnits.embedText(u)
    assert(txt.startsWith("Function: parse_header\n"))
    assert(txt.contains("Calls: check"))
    // lowercased CamelCase-split path + ORIGINAL filename (embed.rs:31-82)
    assert(txt.contains("File: lib io file reader FileReader.py"))
    assert(txt.contains("Code:\ndef parse_header"))
    // raw code units are code-only (embed.rs:115-119)
    val raw = CodeUnits.extractUnits("empty.py", "# nothing\npass_through()").head
    assert(CodeUnits.embedText(raw) === "# nothing\npass_through()")
    // documents get the header form with the Document label (embed.rs:129)
    val doc = CodeUnits.extractUnits("notes.txt", "plain text").head
    assert(CodeUnits.embedText(doc).startsWith("Document: notes\n"))
    // reference's own normalize test (embed.rs:214-221)
    assert(CodeUnits.normalizePathForEmbedding("src/parser/mod.rs")
      === "src parser mod mod.rs")
  }

  test("C7: readTree walks a source tree into (path, source) rows with an oversize cap") {
    import java.nio.file.{Files, Paths}
    val root = "/tmp/graft_readtree"
    graft.util.Fs.deleteRecursively(root)
    Files.createDirectories(Paths.get(s"$root/pkg"))
    Files.write(Paths.get(s"$root/pkg/mod.py"), "def f():\n    return 1\n".getBytes)
    Files.write(Paths.get(s"$root/notes.md"), "# Notes\nbody\n".getBytes)
    Files.write(Paths.get(s"$root/huge.py"), Array.fill(64)("x").mkString.getBytes)
    val all = graft.operators.CodeIndexer.readTree(spark, root)
      .collect().map(r => r.getString(0).split('/').last -> r.getString(1)).toMap
    assert(all.keySet === Set("mod.py", "notes.md", "huge.py"))
    assert(all("mod.py").contains("def f()"))
    // oversize cap drops megafiles
    val capped = graft.operators.CodeIndexer.readTree(spark, root, maxBytes = 32)
      .collect().map(_.getString(0).split('/').last).toSet
    assert(!capped.contains("huge.py") && capped.contains("notes.md"))
    // glob restriction + end-to-end extraction over the tree
    val py = graft.operators.CodeIndexer.readTree(spark, root, glob = Some("*.py"))
    val units = graft.operators.CodeUnits.extract(spark, py).collect()
    assert(units.exists(u => u.getAs[String]("name") == "f"))
    graft.util.Fs.deleteRecursively(root)
  }

  test("C7: diffState detects new, changed, and deleted files") {
    import spark.implicits._
    val files = Seq(("a.py", "v2"), ("b.py", "same"), ("new.py", "x")).toDF("path", "source")
    val state = Seq(("a.py", "v1"), ("b.py", "same"), ("gone.py", "y"))
      .toDF("path", "source")
      .select(col("path"), xxhash64(col("source")).as("content_hash"))
    val (changed, deleted) = CodeUnits.diffState(files, state)
    assert(changed.select("path").collect().map(_.getString(0)).toSet === Set("a.py", "new.py"))
    assert(deleted.collect().map(_.getString(0)).toSet === Set("gone.py"))
  }

  test("C7 full loop: CodeIndexer syncs units and FTS through file changes") {
    import spark.implicits._
    import graft.operators.CodeIndexer
    val dir = "/tmp/graft_code_idx"
    graft.util.Fs.deleteRecursively(dir)

    val v1 = Seq(
      ("a.py", "def parse_json(data):\n    return data\n"),
      ("b.py", "def render_html(page):\n    return page\n")).toDF("path", "source")
    val s1 = CodeIndexer.sync(spark, v1, dir)
    assert(s1.changed === 2L && s1.deleted === 0L && s1.totalUnits === 2L)
    val hit1 = CodeIndexer.ftsIndex(spark, dir).search("parse_json", 5)
    assert(hit1.count() >= 1)

    // unchanged sync is a no-op
    val s2 = CodeIndexer.sync(spark, v1, dir)
    assert(s2.changed === 0L && s2.deleted === 0L)

    // modify a.py (new function name), drop b.py, add c.py
    val v2 = Seq(
      ("a.py", "def parse_yaml(data):\n    return data\n"),
      ("c.py", "def fetch_rows(db):\n    return db\n")).toDF("path", "source")
    val s3 = CodeIndexer.sync(spark, v2, dir)
    assert(s3.changed === 2L && s3.deleted === 1L && s3.totalUnits === 2L)
    val names = CodeIndexer.units(spark, dir).select("name").collect()
      .map(_.getString(0)).toSet
    assert(names === Set("parse_yaml", "fetch_rows"))
    val fts = CodeIndexer.ftsIndex(spark, dir)
    assert(fts.search("parse_yaml", 5).count() >= 1)
    // identifier-aware search is OR-semantics, so query the sub-tokens
    // unique to the removed versions
    assert(fts.search("json", 5).count() === 0)
    assert(fts.search("render", 5).count() === 0)
  }

  test("C7: cross-file called_by resolves call edges through the index-wide def table") {
    import spark.implicits._
    import graft.operators.CodeIndexer
    val dir = "/tmp/graft_code_xfile"
    graft.util.Fs.deleteRecursively(dir)

    // caller in b.py, definition in a.py — invisible to per-file extraction
    val v1 = Seq(
      ("a.py", "def parse_json(data):\n    return data\n"),
      ("b.py", "def load(path):\n    return parse_json(path)\n")).toDF("path", "source")
    CodeIndexer.sync(spark, v1, dir)
    val units1 = CodeIndexer.units(spark, dir)
    val cb1 = CodeIndexer.calledBy(spark, dir)
      .join(units1.select("unit_id", "name", "file"), "unit_id")
    val pj = cb1.filter(col("name") === "parse_json").collect()
    assert(pj.length === 1 && pj.head.getAs[String]("file") === "a.py")
    assert(pj.head.getAs[scala.collection.Seq[String]]("called_by") === Seq("load"),
      s"got: ${pj.head}")

    // edit b.py to drop the call: the cross-file edge must disappear
    val v2 = Seq(
      ("a.py", "def parse_json(data):\n    return data\n"),
      ("b.py", "def load(path):\n    return path\n")).toDF("path", "source")
    CodeIndexer.sync(spark, v2, dir)
    assert(CodeIndexer.calledBy(spark, dir)
      .join(CodeIndexer.units(spark, dir).filter(col("name") === "parse_json")
        .select("unit_id"), "unit_id").count() === 0L)
  }

  test("C8: env overrides map onto SearchParams") {
    val p = CodeUnits.envSearchParams(SearchParams(), Map(
      "COLGREP_N_IVF_PROBE" -> "32",
      "COLGREP_N_FULL_SCORES" -> "8192",
      "COLGREP_CENTROID_SCORE_THRESHOLD" -> "0.25"))
    assert(p.nIvfProbe === 32 && p.nFullScores === 8192)
    assert(p.centroidScoreThreshold === Some(0.25f))
    val unchanged = CodeUnits.envSearchParams(SearchParams(), Map.empty)
    assert(unchanged === SearchParams())
  }

  test("B11: npy round-trip and reference-layout index import searches identically") {
    import spark.implicits._
    // npy scalar round-trips
    val f = Array(1.5f, -2.25f, 0.0f)
    val bb = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    f.foreach(bb.putFloat)
    NpyImport.writeNpy("/tmp/graft_t.npy", "f4", Seq(3), bb.array())
    assert(NpyImport.floats(NpyImport.readNpy("/tmp/graft_t.npy")).toSeq === f.toSeq)

    // build a small index, export its artifacts in the reference npy/json
    // layout, re-import, and compare search results
    val docs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select((col("vec_id") / 5).cast("long").as("doc_id"), col("vec_id"), col("embedding"))
      .as[(Long, Long, Array[Float])]
      .map { case (d, v, e) => (d, v, graft.core.MaxSim.l2Normalize(e)) }
      .toDF("doc_id", "vec_id", "embedding")
      .groupBy("doc_id")
      .agg(transform(array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
        x => x.getField("embedding")).as("embeddings"))
      .filter(col("doc_id") < 20)
    val srcPath = "/tmp/graft_npy_src"
    val refDir = "/tmp/graft_npy_ref"
    val impPath = "/tmp/graft_npy_imp"
    Seq(srcPath, refDir, impPath).foreach(graft.util.Fs.deleteRecursively)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(refDir))
    val idx = graft.index.MultiVectorIndex.build(spark, docs, srcPath)

    // exportIndex writes the same reference layout importIndex reads;
    // chunkDocs=8 forces the multi-chunk path (20 docs -> 3 chunks)
    NpyImport.exportIndex(idx, refDir, chunkDocs = 8)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$refDir/2.codes.npy")))

    val imported = NpyImport.importIndex(spark, refDir, impPath)
    assert(imported.numDocuments === 20L)
    // table for table, the import writes what the build wrote
    Seq("tokens", "ivf", "doclens", "doc_codes").foreach { t =>
      def hashOf(p: String) = {
        val df = graft.util.Fs.readParquet(spark, s"$p/$t")
        graft.Bench.forcedCountHash(df.select(df.columns.sorted.map(col).toIndexedSeq: _*))
      }
      assert(hashOf(impPath) === hashOf(srcPath), s"imported $t differs from the source")
    }
    assert(Seq("num_documents", "num_embeddings", "avg_doclen")
      .forall(k => imported.manifest(k) == idx.manifest(k)))
    assert(graft.index.IndexCheck.isConsistent(spark, imported), "imported index must validate clean")
    val qs = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    val p = SearchParams(topK = 5, nIvfProbe = Int.MaxValue,
      nFullScores = 1 << 22, centroidScoreThreshold = None)
    val a = new graft.search.Searcher(idx).search(qs, p)
      .select("query_id", "doc_id", "rank").collect().toSet
    val b = new graft.search.Searcher(imported).search(qs, p)
      .select("query_id", "doc_id", "rank").collect().toSet
    assert(a === b)
  }
}
