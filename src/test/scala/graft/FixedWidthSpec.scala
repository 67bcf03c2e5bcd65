package graft

import graft.sources.{FixedWidth, Scratch, StpRegistry}
import graft.sources.FixedWidth.ColSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** FixedWidth.read splits each line once; its rows must equal, schema and
  * values, the per-window expression reader it replaced — kept here as
  * the reference — on lines built to break a hand-rolled splitter. */
class FixedWidthSpec extends SparkSpec {

  /** The per-window expression form: `trim(substring)` per colspec, na
    * values and empty strings nulled, then `try_cast`. */
  private def reference(path: String, specs: Seq[ColSpec],
      naValues: Seq[String]): DataFrame = {
    val cols = specs.map { c =>
      val s = trim(substring(col("value"), c.start, c.len))
      val cleaned =
        if (naValues.isEmpty) s
        else when(s.isin(naValues.map(lit): _*), lit(null)).otherwise(s)
      val empty = when(length(cleaned) === 0, lit(null)).otherwise(cleaned)
      empty.try_cast(c.typ).as(c.name)
    }
    spark.read.text(path).select(cols: _*)
  }

  private def file(name: String, lines: Seq[String], eol: String = "\n",
      charset: String = "UTF-8"): String = {
    val dir = Scratch.dir("fixedwidth_spec")
    new java.io.File(dir).mkdirs()
    val path = s"$dir/$name.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.map(_ + eol).mkString.getBytes(charset))
    path
  }

  /** Reads `path` with both readers, asserts they agree, returns the rows. */
  private def agree(path: String, specs: Seq[ColSpec],
      naValues: Seq[String] = Seq("ID")): Seq[Row] = {
    val got = FixedWidth.read(spark, path, specs, naValues)
    val want = reference(path, specs, naValues)
    assert(got.schema == want.schema)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g.size == w.size)
    g.zip(w).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"line $i: split $a, reference $b")
    }
    g
  }

  // id | gap | name | zero-width | x | gap | n | gap | k | gap | tail
  private val specs = Seq(
    ColSpec("id", 1, 5, DoubleType),
    ColSpec("name", 7, 8, StringType),
    ColSpec("zero", 15, 0, StringType),
    ColSpec("x", 15, 6, DoubleType),
    ColSpec("n", 22, 5, LongType),
    ColSpec("k", 28, 4, IntegerType),
    ColSpec("tail", 33, 6, StringType))

  /** Pads by code points, so windows stay aligned past a surrogate pair. */
  private def pad(s: String, w: Int): String =
    s + " " * (w - s.codePointCount(0, s.length))

  private def row(id: String, name: String, x: String, n: String,
      k: String, tail: String): String =
    pad(id, 5) + " " + pad(name, 8) + pad(x, 6) + " " + pad(n, 5) + " " +
      pad(k, 4) + " " + pad(tail, 6)

  private val plain = row("1", "stop A", "12.5", "42", "7", "end")

  test("short, empty and zero-width windows") {
    val rows = agree(file("short", Seq(
      plain,
      plain.take(17), // ends inside x: n, k, tail lie past the line
      plain.take(5),
      "")), specs)
    assert(rows.head == Row(1.0, "stop A", null, 12.5, 42L, 7, "end"))
    assert(rows(1) == Row(1.0, "stop A", null, 12.0, null, null, null))
    assert(rows(3) == Row(null, null, null, null, null, null, null))
    assert(rows.forall(_.isNullAt(2)), "the zero-width window must read null")
  }

  test("multi-byte and surrogate-pair code points before numeric windows") {
    val rows = agree(file("unicode", Seq(
      row("2", "Café ñ", "3.25", "-3", "11", "ü"),
      row("3", "𝄞ab", "1e3", "5", "-2", "🚌"),
      row("4", "𝄞" * 8, "123456", "6", "1", "z"))), specs) // windows full
    assert(rows(0) == Row(2.0, "Café ñ", null, 3.25, -3L, 11, "ü"))
    assert(rows(1) == Row(3.0, "𝄞ab", null, 1000.0, 5L, -2, "🚌"))
    assert(rows(2) == Row(4.0, "𝄞" * 8, null, 123456.0, 6L, 1, "z"))
  }

  test("invalid UTF-8 bytes shift windows exactly as Spark's substring does") {
    // written as Latin-1, so each char below is one raw byte: 0xFF and a
    // lone continuation byte 0x80 count as one code point each, and the
    // lead byte 0xE9 claims the two bytes after it
    agree(file("bytes", Seq(
      row("9", "\u00ff\u0080b", "1.5", "2", "3", "t"),
      row("10", "\u00e9", "2.5", "4", "5", "u"),
      row("\u00e9", "x", "3.5", "6", "7", "v")), charset = "ISO-8859-1"), specs)
  }

  test("tab and NBSP padding survive the space-only trim") {
    val rows = agree(file("ws", Seq(
      row("5", "\tx", "\u00a05", "\t9", "1\t", "a\u00a0"),
      row("6", "\u00a0y", "7\u00a0", "8", "2", "\tb"))), specs)
    assert(rows(0).getString(1) == "\tx" && rows(0).getString(6) == "a\u00a0")
    assert(rows(1).getString(1) == "\u00a0y" && rows(1).getString(6) == "\tb")
  }

  test("the na value ID nulls string and numeric windows alike") {
    val rows = agree(file("na", Seq(
      row("ID", "ID", "ID", "ID", "ID", "ID"),
      row("7", " ID", "IDX", "1", "1", "xID"))), specs)
    assert(rows(0) == Row(null, null, null, null, null, null, null))
    assert(rows(1).getString(1) == null && rows(1).getString(6) == "xID")
    // without na values, ID is an ordinary string
    val raw = agree(file("na_off", Seq(row("ID", "ID", "1", "1", "1", "ID"))),
      specs, naValues = Seq.empty)
    assert(raw.head.getString(1) == "ID" && raw.head.isNullAt(0))
  }

  test("numeric spellings parse exactly as try_cast does") {
    val wide = Seq(ColSpec("d", 1, 10, DoubleType), ColSpec("l", 12, 10, LongType),
      ColSpec("i", 23, 10, IntegerType), ColSpec("s", 34, 10, StringType))
    val spellings = Seq("12.0", "-3", "1e3", "NaN", "Infinity", "1d", "0x10",
      "+4", ".5", "1,0", "-0", "ID")
    val rows = agree(file("numeric",
      spellings.map(v => Seq.fill(4)(pad(v, 10)).mkString(" "))), wide)
    assert(rows.take(3).map(_.get(0)) == Seq(12.0, -3.0, 1000.0))
    assert(rows(3).getDouble(0).isNaN && rows(4).getDouble(0).isPosInfinity)
    assert(rows.last == Row(null, null, null, null))
  }

  test("a CRLF file reads like its LF twin") {
    val lines = Seq(plain, row("8", "Café", "1e3", "-3", "4", "x"), "",
      plain.take(20))
    val crlf = agree(file("crlf", lines, eol = "\r\n"), specs)
    val lf = agree(file("lf", lines), specs)
    assert(crlf == lf)
  }

  test("q35's Long/Integer/String/Double colspecs on written lineitem lines") {
    import spark.implicits._
    val q35 = Seq(
      ColSpec("l_orderkey", 1, 12, LongType),
      ColSpec("l_linenumber", 13, 4, IntegerType),
      ColSpec("l_returnflag", 17, 2, StringType),
      ColSpec("l_quantity", 19, 10, DoubleType),
      ColSpec("l_extendedprice", 29, 14, DoubleType))
    val written = Seq(
      (1L, 1, "N", 17.0, 21168.23),
      (6000000L, 7, "R", 50.0, 104949.5),
      (3L, 2, null, 0.5, -0.01))
      .toDF(q35.map(_.name): _*)
      .select(FixedWidth.formatLine(q35).as("value")).as[String].collect()
    val rows = agree(file("q35", written.toSeq :+ "ID" :+ "12345678901x"),
      q35, naValues = Seq.empty)
    assert(rows(1) == Row(6000000L, 7, "R", 50.0, 104949.5))
    assert(rows(2).isNullAt(2))
  }

  test("the 62-column STP registry read matches, header rows included") {
    val specs = StpRegistry.readerSpecs(StpRegistry.defaultColumns)
    // every window filled, each value placed at its absolute position
    val b = new StringBuilder(" " * specs.map(c => c.start - 1 + c.len).max)
    specs.foreach { c =>
      val v = if (c.typ == StringType) "Ü s" else (c.start % 97).toString
      if (v.length <= c.len) b.replace(c.start - 1, c.start - 1 + v.length, v)
    }
    val full = b.toString
    val rows = agree(file("stp", Seq(
      "   ID SEQ header text",
      full,
      full.take(200),
      full.replace("Ü", "𝄞"))), specs)
    assert(rows.head.isNullAt(0))
    assert(!rows(1).isNullAt(0))
  }
}
