package graft.sources

import java.io.File

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the columnar shard codec — the storage layer
  * every lake/document byte now rides. Random typed rows (unicode
  * strings, NaN/±0.0/extreme doubles, pre-Gregorian dates, nulls
  * everywhere) must round-trip VALUE-EXACTLY from Spark's Parquet
  * writer ([[GraftShardCodec.openWriter]]) through the lake's
  * vectorized reader — the path queries read — and through the raw
  * row-group append path, which refuses a source of another schema.
  * Every written footer carries the codec's own schema, name
  * included. Pure JVM — no SparkSession. */
class ShardCodecSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("i", IntegerType),
    StructField("d", DateType),
    StructField("x", DoubleType),
    StructField("s", StringType),
    StructField("ts", TimestampType),
    StructField("b", BooleanType)))

  private def tmp(name: String): File = {
    val f = File.createTempFile(name, ".parquet")
    f.delete()
    f.deleteOnExit()
    f
  }

  private def randRow(rnd: scala.util.Random): Array[Any] = {
    def maybe[T](v: => T): Any =
      if (rnd.nextInt(5) == 0) null else v.asInstanceOf[Any]
    Array(
      maybe(java.lang.Long.valueOf(rnd.nextLong())),
      maybe(java.lang.Integer.valueOf(rnd.nextInt())),
      // days from 0001-01-01 on: a Julian/Gregorian rebase of the
      // ones before 1582-10-15 would move them
      maybe(java.lang.Integer.valueOf(rnd.nextInt(760000) - 719162)),
      maybe(java.lang.Double.valueOf(rnd.nextInt(8) match {
        case 0 => Double.NaN
        case 1 => Double.PositiveInfinity
        case 2 => Double.NegativeInfinity
        case 3 => -0.0
        case 4 => Double.MinPositiveValue
        case _ => rnd.nextDouble() * math.pow(10, rnd.nextInt(300))
      })),
      maybe(UTF8String.fromString(rnd.nextInt(4) match {
        case 0 => "héllo é世界😀" // unicode+emoji
        case 1 => "" // empty, distinct from null
        case 2 => "line\nbreak\ttab\"quote"
        case _ => rnd.alphanumeric.take(rnd.nextInt(64)).mkString
      })),
      maybe(java.lang.Long.valueOf(rnd.nextLong() / 1000L)),
      maybe(java.lang.Boolean.valueOf(rnd.nextBoolean())))
  }

  private def writeRows(f: File, sch: StructType,
      rows: Seq[Array[Any]]): Unit = {
    val w = GraftShardCodec.openWriter(f, sch)
    try rows.foreach(vals => w.write(new GenericInternalRow(vals)))
    finally w.close()
    assert(GraftShardCodec.footer(f)._1 === GraftShardCodec.messageType(sch))
  }

  /** `f`'s rows laid out as `sch`, read back by the lake reader. */
  private def readBack(f: File, sch: StructType): Seq[Array[Any]] = {
    val rows = GraftLakeColumnarPartitionReader.rows(
      new GraftLakeColumnarPartitionReader(Seq(f.getPath), 0, sch))
    try rows.map(_.copy().toSeq(sch).toArray).toVector
    finally rows.close()
  }

  /** Bit-level equality (NaN == NaN, -0.0 != 0.0 — storage must not
    * normalize). */
  private def sameCell(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: java.lang.Double, y: java.lang.Double) =>
      java.lang.Double.doubleToLongBits(x.doubleValue()) ==
        java.lang.Double.doubleToLongBits(y.doubleValue())
    case (x, y) => x == y
  }

  private def assertSame(got: Seq[Array[Any]],
      want: Seq[Array[Any]], ctx: String): Unit = {
    assert(got.length === want.length, s"$ctx: row count")
    got.zip(want).zipWithIndex.foreach { case ((g, w), r) =>
      g.zip(w).zipWithIndex.foreach { case ((gc, wc), c) =>
        assert(sameCell(gc, wc), s"$ctx row $r col $c: $gc != $wc")
      }
    }
  }

  test("random rows round-trip value-exactly (NaN, ±0.0, infinities, " +
      "unicode, empty-vs-null strings) across seeds") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(200 + rnd.nextInt(200))(randRow(rnd))
      val f = tmp(s"codec_rt_$seed")
      writeRows(f, schema, rows)
      assertSame(readBack(f, schema), rows, s"seed $seed")
      val (fs, n) = GraftShardCodec.footer(f)
      assert(n === rows.length.toLong &&
        fs === GraftShardCodec.messageType(schema) &&
        fs.getName === "graft_lake_shard")
      assert(f.delete())
    }
  }

  test("raw row-group append preserves order and values; a source " +
      "whose schema differs from the target is refused") {
    val rnd = new scala.util.Random(42)
    val a = Seq.fill(100)(randRow(rnd))
    val b = Seq.fill(50)(randRow(rnd))
    val fa = tmp("codec_a"); val fb = tmp("codec_b")
    writeRows(fa, schema, a)
    writeRows(fb, schema, b)
    // identical schemas — raw row-group copy, a ++ b
    val merged = tmp("codec_m")
    GraftShardCodec.mergeShardFiles(merged,
      GraftShardCodec.messageType(schema), Seq(fa, fb))
    assertSame(readBack(merged, schema), a ++ b, "append")
    // a target that drops `i` and adds `z`: the old-schema source is
    // refused, and no target file is started
    val evolved = StructType(
      schema.fields.filterNot(_.name == "i") :+
        StructField("z", LongType))
    val fe = tmp("codec_e")
    val err = intercept[IllegalArgumentException](
      GraftShardCodec.mergeShardFiles(fe,
        GraftShardCodec.messageType(evolved), Seq(fb, fa)))
    assert(err.getMessage.contains(fb.getName), err.getMessage)
    assert(!fe.exists())
    // projection: reading only (s, x) decodes two columns
    val proj = StructType(Seq(schema("s"), schema("x")))
    assertSame(readBack(merged, proj),
      (a ++ b).map(r => Array(r(4), r(3))), "projection")
    Seq(fa, fb, merged).foreach(f => assert(f.delete()))
  }
}
