package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Pins the LOADED schema contract every operator depends on — the
  * driver regenerates /root/testdata between rounds and has already
  * shifted physical types twice (events.ts: INT64 nanos → timestamp[us],
  * breaking 14 queries at analysis time both times). These assertions
  * turn the next silent drift into a one-line failure naming the table
  * and column.
  *
  * The pin is deliberately on TYPE CLASSES, not exact widths: an
  * int32→int64 key drift is absorbed by Spark's coercion and hits
  * DuckDB identically (both engines read the same parquet), so exact
  * widths would false-alarm. What operators actually rely on is the
  * class: integral keys, fractional measures, string labels, real
  * timestamps (post-[[Tables.normalizeTs]]), float vectors.
  */
class TablesSpec extends SparkSpec {

  private sealed trait Kind
  private case object Integral extends Kind
  private case object Fractional extends Kind
  private case object Str extends Kind
  private case object Ts extends Kind
  private case object FloatVec extends Kind

  private def kindOf(dt: DataType): Option[Kind] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(Integral)
    case FloatType | DoubleType | _: DecimalType       => Some(Fractional)
    case StringType                                    => Some(Str)
    // both flavors: orders/lineitem dates legitimately load as NTZ
    // (parquet isAdjustedToUTC=false) and are oracle-green under the
    // pinned UTC session tz; events.ts is held to strict TimestampType
    // separately by ScaleSpec's normalizeTs pin
    case TimestampType | TimestampNTZType              => Some(Ts)
    case ArrayType(FloatType | DoubleType, _)          => Some(FloatVec)
    case _                                             => None
  }

  private def pin(name: String, df: DataFrame, cols: (String, Kind)*): Unit = {
    val schema = df.schema
    cols.foreach { case (c, want) =>
      assert(schema.fieldNames.contains(c), s"$name: column $c missing")
      val got = kindOf(schema(c).dataType)
      assert(got.contains(want),
        s"$name.$c: expected $want, loaded as ${schema(c).dataType} — " +
          "testdata drifted; adapt the loader like Tables.normalizeTs")
    }
  }

  test("loaded schemas carry the column contract the operators compile against") {
    val d = sf0001
    pin("region", Tables.region(spark, d),
      "r_regionkey" -> Integral, "r_name" -> Str)
    pin("nation", Tables.nation(spark, d),
      "n_nationkey" -> Integral, "n_name" -> Str, "n_regionkey" -> Integral)
    pin("customer", Tables.customer(spark, d),
      "c_custkey" -> Integral, "c_name" -> Str, "c_nationkey" -> Integral,
      "c_acctbal" -> Fractional, "c_mktsegment" -> Str)
    pin("supplier", Tables.supplier(spark, d),
      "s_suppkey" -> Integral, "s_name" -> Str, "s_nationkey" -> Integral,
      "s_acctbal" -> Fractional)
    pin("part", Tables.part(spark, d),
      "p_partkey" -> Integral, "p_name" -> Str, "p_brand" -> Str,
      "p_type" -> Str, "p_size" -> Integral, "p_retailprice" -> Fractional)
    pin("orders", Tables.orders(spark, d),
      "o_orderkey" -> Integral, "o_custkey" -> Integral, "o_orderstatus" -> Str,
      "o_totalprice" -> Fractional, "o_orderdate" -> Ts, "o_orderpriority" -> Str)
    pin("lineitem", Tables.lineitem(spark, d),
      "l_orderkey" -> Integral, "l_partkey" -> Integral, "l_suppkey" -> Integral,
      "l_linenumber" -> Integral, "l_quantity" -> Fractional,
      "l_extendedprice" -> Fractional, "l_discount" -> Fractional,
      "l_tax" -> Fractional, "l_returnflag" -> Str, "l_linestatus" -> Str,
      "l_shipdate" -> Ts)
    pin("events", Tables.events(spark, d),
      "event_id" -> Integral, "ts" -> Ts, "user_id" -> Integral,
      "event_type" -> Str, "value" -> Fractional, "props" -> Str)
    pin("documents", Tables.documents(spark, d),
      "doc_id" -> Integral, "text" -> Str, "lang" -> Str,
      "source" -> Str, "n_chars" -> Integral)
    pin("embeddings", Tables.embeddings(spark, d),
      "vec_id" -> Integral, "embedding" -> FloatVec, "label" -> Integral)
  }

  test("spreadKernel's probe failure falls back to no spread and reports itself") {
    val dir = java.nio.file.Files.createTempDirectory("spread_probe").toString
    val df = spark.range(10).toDF("id")
    val buf = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val out = try Tables.spreadKernel(spark, dir, "absent")(df)
      finally System.setErr(prevErr)
    assert(out eq df) // the at-scale identity: no shuffle added
    val line = buf.toString("UTF-8").linesIterator.find(_.contains("\"fallback\"")).getOrElse(
      fail(s"no fallback line on stderr: $buf"))
    assert(line.startsWith("graft: {\"fallback\":\"Tables.spreadKernel\""), line)
    assert(line.contains(s"\"path\":\"$dir/absent.parquet\""), line)
    assert(line.contains("FileNotFoundException"), line)
  }
}
