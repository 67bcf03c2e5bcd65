package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** S1 — fixed-width file source (SURVEY.md §2.1).
  *
  * The reference reads 90-column fixed-width AVL/APC files with pandas
  * `read_fwf` in 100k-row chunks (sfdata_wrangler/SFMuniDataHelper.py:422-430,
  * colspecs :71-170). Spark-first: `spark.read.text` + a colspec table —
  * fully parallel (text splits by HDFS block), no chunk loop. Mid-file
  * header rows are killed by na-value nulling + dropna on a key column,
  * exactly like the reference's `na_values=['ID']` + `dropna(subset=['SEQ'])`
  * (:443).
  *
  * Each line is split ONCE: one left-to-right walk finds every window edge,
  * then each window is sliced by offset. Why not a `substring` expression
  * per window: `substring` counts code points from the start of the line,
  * so each window costs O(line length) — 62 scans of every AVL line for
  * the default read set, and the optimizer repeated each window's
  * `trim(substring)` up to 4 times across the na/empty/cast arms. The
  * slices are UTF8String byte ranges of the line as the text source read
  * it, so windows land where Spark's `substring` puts them, and they go
  * through the same `try_cast` as before: parse semantics are Spark's own.
  */
object FixedWidth {

  /** One column: 1-based start position, length, target type. Positions
    * count characters (code points), as Spark's `substring` does. */
  final case class ColSpec(name: String, start: Int, len: Int, typ: DataType)

  def read(
      spark: SparkSession, path: String, specs: Seq[ColSpec],
      naValues: Seq[String] = Seq.empty): DataFrame = {
    specs.foreach(c => require(c.start >= 1 && c.len >= 0,
      s"colspec ${c.name}: start must be >= 1 and len >= 0"))
    spark.baseRelationToDataFrame(new Lines(spark, path, specs, naValues))
      // try_cast: unparseable fields (mid-file header text, na remnants)
      // must become null, not ANSI cast errors — that null-ness is what
      // the downstream dropna key filter keys on (F1)
      .select(specs.zipWithIndex.map { case (c, i) =>
        col(s"_$i").try_cast(c.typ).as(c.name)
      }: _*)
  }

  /** The text file's lines split into positional string fields (colspec
    * names may repeat or contain dots). Rows are built as InternalRow of
    * UTF8String slices (`needConversion = false`), so no field is decoded
    * to a Java String and encoded back — on 300k 62-column lines (4 local
    * cores) a full read took 1.5 s this way against 5.0 s through a Row
    * encoder. */
  private final class Lines(spark: SparkSession, path: String,
      specs: Seq[ColSpec], naValues: Seq[String])
      extends BaseRelation with TableScan {
    private val text = spark.read.text(path)
    override def sqlContext: SQLContext = spark.sqlContext
    override val schema: StructType =
      StructType(specs.indices.map(i => StructField(s"_$i", StringType)))
    override def sizeInBytes: Long =
      text.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    override def needConversion: Boolean = false
    override def toString: String = s"FixedWidth $path"
    override def buildScan(): RDD[Row] = {
      val split = new LineSplitter(specs, naValues)
      text.queryExecution.toRdd
        .mapPartitions(_.map(r => split(r.getUTF8String(0))))
        .asInstanceOf[RDD[Row]]
    }
  }

  /** Splits a line into its trimmed windows, byte for byte what
    * `trim(substring(value, start, len))` returns, with na values and
    * empty strings nulled: windows are code-point ranges counted by UTF-8
    * lead byte as Spark's `substring` counts them, windows past the
    * line's end are empty, and only spaces are trimmed — tabs and NBSP
    * stay, as with Spark's `trim`. */
  private final class LineSplitter(specs: Seq[ColSpec], naValues: Seq[String])
      extends Serializable {
    // every window edge (0-based code point), ascending
    private val edges = specs.flatMap(c => Seq(c.start - 1, c.start - 1 + c.len))
      .distinct.sorted.toArray
    private val from = specs.map(c => edges.indexOf(c.start - 1)).toArray
    private val until = specs.map(c => edges.indexOf(c.start - 1 + c.len)).toArray
    private val na = naValues.map(UTF8String.fromString).toSet

    def apply(line: UTF8String): InternalRow = {
      val out = new Array[Any](from.length)
      if (line != null) {
        // byte offset of each edge: one walk over the line
        val bytes = line.getBytes
        val n = bytes.length
        val at = new Array[Int](edges.length)
        var cp = 0
        var b = 0
        var e = 0
        while (e < edges.length) {
          while (cp < edges(e) && b < n) {
            b += UTF8String.numBytesForFirstByte(bytes(b))
            cp += 1
          }
          at(e) = math.min(b, n)
          e += 1
        }
        var i = 0
        while (i < out.length) {
          var s = at(from(i))
          var t = at(until(i))
          while (s < t && bytes(s) == ' ') s += 1
          while (t > s && bytes(t - 1) == ' ') t -= 1
          if (s < t) {
            val f = UTF8String.fromBytes(bytes, s, t - s)
            if (!na.contains(f)) out(i) = f
          }
          i += 1
        }
      }
      new GenericInternalRow(out)
    }
  }

  /** Fixed-width writer (for fixtures / round-tripping): left-justified
    * string fields, right-justified numerics, single text column.
    * Fields land at their declared ABSOLUTE start positions: when a
    * spec's start is past the previous field's end (the STP registry
    * leaves 1-byte separator gaps between most windows), the gap is
    * emitted as spaces so reader positions stay aligned. */
  def formatLine(specs: Seq[ColSpec]): org.apache.spark.sql.Column = {
    var pos = 1
    val parts = specs.map { c =>
      require(c.start >= pos,
        s"overlapping colspec windows at ${c.name}: start ${c.start} < $pos")
      val gap = c.start - pos
      pos = c.start + c.len
      val v = coalesce(col(c.name).cast("string"), lit(""))
      val padded = c.typ match {
        case StringType => rpad(v, c.len, " ")
        case _          => lpad(v, c.len, " ")
      }
      // lpad/rpad silently TRUNCATE overlong values — that would corrupt
      // data on the round-trip; fail loudly at the write site instead
      val guarded = when(length(v) > c.len,
        raise_error(concat(lit(s"fixed-width overflow in ${c.name} (${c.len}): "), v)))
        .otherwise(padded)
      if (gap > 0) concat(lit(" " * gap), guarded) else guarded
    }
    concat(parts: _*)
  }
}
