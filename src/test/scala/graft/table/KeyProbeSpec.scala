package graft.table

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** MergeInto.keyProbe — the single driver job that feeds BOTH
  * manifest-pruning inputs (per-value probe set + key bounds). The
  * round-16 optimization derives the bounds DRIVER-SIDE from the
  * collected rows (interpreted ordering + the same UTC Cast rendering
  * file stats use) instead of a second distributed aggregate; this spec
  * pins the derived bounds against the aggregate path's
  * [[MergeInto.sourceKeyRange]] across the type zoo, and the >cap /
  * null-handling fallbacks. */
class KeyProbeSpec extends SparkSpec {
  import spark.implicits._

  private def tableSchema(df: org.apache.spark.sql.DataFrame) = df.schema

  test("derived bounds equal the distributed aggregate's rendering " +
    "across long/string/timestamp/decimal/double keys") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (3L, 'b',  TIMESTAMP'2024-01-02 03:04:05.123456',
        |   CAST(1.50 AS DECIMAL(18,2)), CAST(2.5 AS DOUBLE)),
        |  (1L, 'a',  TIMESTAMP'2023-12-31 23:59:59.999999',
        |   CAST(-7.25 AS DECIMAL(18,2)), CAST('NaN' AS DOUBLE)),
        |  (9L, 'ab', TIMESTAMP'2024-06-01 00:00:00',
        |   CAST(300.00 AS DECIMAL(18,2)), CAST(-0.0 AS DOUBLE))
        |AS t(k_long, k_str, k_ts, k_dec, k_dbl)""".stripMargin)
    val keys = Seq("k_long", "k_str", "k_ts", "k_dec", "k_dbl")
    val (range, values, _) = MergeInto.keyProbe(df, keys, tableSchema(df))
    assert(values.isDefined && values.get("k_long").size == 3)
    val agg = MergeInto.sourceKeyRange(df, keys)
    assert(range === agg)
    // NaN is SQL-max for doubles; -0.0 the SQL-min here
    assert(range("k_dbl")._2 === Some("NaN"))
  }

  test("source columns narrower than the table schema are cast before " +
    "rendering (Int batch vs Long table key)") {
    val df = Seq(5, 2, 9).toDF("k") // IntegerType source
    val tblSchema = StructType(Seq(StructField("k", LongType)))
    val (range, values, _) = MergeInto.keyProbe(df, Seq("k"), tblSchema)
    assert(range("k") === (Some("2"), Some("9")))
    // probe values are Catalyst longs (the table's type), not ints
    assert(values.get("k").forall(_.isInstanceOf[Long]))
  }

  test("NULL keys are ignored for bounds like SQL min/max; all-null " +
    "and empty batches give (None, None)") {
    val mixed = Seq(Some(4L), None, Some(1L)).toDF("k")
    val (r1, _, _) = MergeInto.keyProbe(mixed, Seq("k"), mixed.schema)
    assert(r1("k") === (Some("1"), Some("4")))
    val allNull = Seq[Option[Long]](None, None).toDF("k")
    val (r2, _, _) = MergeInto.keyProbe(allNull, Seq("k"), allNull.schema)
    assert(r2("k") === (None, None))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      allNull.schema)
    val (r3, v3, _) = MergeInto.keyProbe(empty, Seq("k"), allNull.schema)
    assert(r3("k") === (None, None) && v3.exists(_("k").isEmpty))
  }

  test("a batch over the cap falls back to the distributed aggregate " +
    "with values = None") {
    val big = spark.range(0, MergeInto.MaxKeyProbeValues + 100)
      .toDF("k")
    val (range, values, _) = MergeInto.keyProbe(big, Seq("k"), big.schema)
    assert(values.isEmpty)
    assert(range("k") ===
      (Some("0"), Some((MergeInto.MaxKeyProbeValues + 99).toString)))
  }

  test("timestamp bounds render under UTC regardless of session zone " +
    "(the discipline file stats are recorded under)") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val df = spark.sql(
        "SELECT TIMESTAMP'2024-03-01 12:00:00' AS k")
      val (range, _, _) = MergeInto.keyProbe(df, Seq("k"), df.schema)
      // the literal above is parsed in the SESSION zone (EST, UTC-5);
      // rendering must be UTC — both ends shifted +5h, matching
      // sourceKeyRange's rendering of the same frame
      assert(range === MergeInto.sourceKeyRange(df, Seq("k")))
      assert(range("k")._1 === Some("2024-03-01 17:00:00"))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }
}
