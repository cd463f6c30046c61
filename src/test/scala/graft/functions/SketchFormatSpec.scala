package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The eight sketch aggregates (four builds, four merges), in Column and SQL
  * form, pinned to recorded output bytes (md5 hex of each result, rows in
  * group order) under a global aggregate, a grouped one over a repartition,
  * and a grouped one whose object hash map falls back to sort-based
  * aggregation after two keys, so buffers go through serialize/deserialize.
  * Also: merges of per-group sketches against the whole-corpus sketch, the
  * empty merge result and what the query scalars read from it, and a lone
  * malformed merge input.
  */
class SketchFormatSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val FallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** Seeded rows: null, empty and non-ASCII strings among repeated words;
    * integral columns of every width with 0 and Long.MaxValue.
    */
  private lazy val input: DataFrame = {
    val rnd = new scala.util.Random(1717)
    val odd = Seq(null, "", "é", "日本語", "naïve café", "\u0000", "🙂 emoji", " ")
    val rows = (0 until 700).map { i =>
      val s = if (i < odd.length) odd(i) else if (i % 29 == 0) null else s"w${rnd.nextInt(300)}"
      val l: java.lang.Long = i match {
        case 0 => null
        case 1 => 0L
        case 2 => Long.MaxValue
        case _ => rnd.nextInt(1 << 20).toLong << rnd.nextInt(40)
      }
      Row(i % 7, s, l, if (i % 11 == 0) null else Integer.valueOf(rnd.nextInt(100000)),
        java.lang.Short.valueOf((i * 37 % 30000).toShort), java.lang.Byte.valueOf((i % 128).toByte))
    }
    val schema = StructType(Seq(StructField("g", IntegerType), StructField("s", StringType),
      StructField("l", LongType), StructField("i", IntegerType), StructField("sh", ShortType),
      StructField("b", ByteType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  /** (name, Column form, SQL form) of each build call. */
  private def builds: Seq[(String, Column, String)] = Seq(
    ("hll_p8", hll_sketch($"s", 8), "hll_sketch(s, 8)"),
    ("hll_default", hll_sketch($"s"), "hll_sketch(s)"),
    ("cms", cms_sketch($"s", 32, 3), "cms_sketch(s, 32, 3)"),
    ("bloom", bloom_agg($"s", 512, 3), "bloom_agg(s, 512, 3)"),
    ("q_long", qsketch_agg($"l", 5), "qsketch_agg(l, 5)"),
    ("q_int", qsketch_agg($"i", 4), "qsketch_agg(i, 4)"),
    ("q_short", qsketch_agg($"sh"), "qsketch_agg(sh)"),
    ("q_byte", qsketch_agg($"b", 3), "qsketch_agg(b, 3)"))

  /** (name, build SQL, merge Column function, merge SQL name) of each merge. */
  private def merges: Seq[(String, String, Column => Column, String)] = Seq(
    ("hll_merge", "hll_sketch(s, 6)", hll_merge _, "hll_merge"),
    ("cms_merge", "cms_sketch(s, 16, 4)", cms_merge _, "cms_merge"),
    ("bloom_merge", "bloom_agg(s, 256, 2)", bloom_merge _, "bloom_merge"),
    ("qsketch_merge", "qsketch_agg(l, 5)", qsketch_merge _, "qsketch_merge"))

  private def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes).map("%02x".format(_)).mkString

  /** md5 over "key=hex;" of each (key, sketch) row, in key order. */
  private def digest(df: DataFrame): String = {
    val rows = df.collect().map(r => (if (r.length == 2) r.getInt(0) else -1, r.getAs[Array[Byte]](r.length - 1)))
    md5Hex(rows.sortBy(_._1).map { case (k, b) =>
      s"$k=${if (b == null) "null" else b.map("%02x".format(_)).mkString};" }.mkString.getBytes("UTF-8"))
  }

  /** Tasks of `df`'s executed object-hash aggregates that fell back to sort. */
  private def sortFallbacks(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) { case a: ObjectHashAggregateExec =>
      a.metrics("numTasksFallBacked").value }.sum

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  private def withView[T](name: String, df: DataFrame)(body: => T): T = {
    df.createOrReplaceTempView(name)
    try body finally spark.catalog.dropTempView(name)
  }

  /** The three aggregation modes over `df`, keyed by `key` when grouped:
    * each gives (Column result, SQL result) for a (Column, SQL) aggregate.
    * The fallback mode reads one partition holding every key.
    */
  private def modes(df: DataFrame, key: Column, keySql: String, c: Column, sql: String)
      : Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
    ("global", () => df.agg(c), () => spark.sql(s"SELECT $sql FROM sk_in")),
    ("grouped", () => df.repartition(5).groupBy(key.as("k")).agg(c),
      () => spark.sql(s"SELECT $keySql AS k, $sql FROM sk_rep GROUP BY $keySql")),
    ("fallback", () => df.coalesce(1).groupBy(key.as("k")).agg(c),
      () => spark.sql(s"SELECT $keySql AS k, $sql FROM sk_one GROUP BY $keySql")))

  private def run(df: DataFrame, key: Column, keySql: String, c: Column, sql: String)
      : Seq[(String, String, String)] =
    withView("sk_in", df)(withView("sk_rep", df.repartition(5))(withView("sk_one", df.coalesce(1)) {
      modes(df, key, keySql, c, sql).map { case (mode, col, text) =>
        def both() = {
          val df = col()
          val r = (digest(df), digest(text()))
          if (mode == "fallback") assert(sortFallbacks(df) > 0, "no task fell back to sort-based")
          r
        }
        val (a, b) = if (mode == "fallback") withConf(FallbackKey, "2")(both()) else both()
        (mode, a, b)
      }
    }))

  /** Per-group sketches as merge input, plus a null and an empty sketch. */
  private def sketchTable(buildSql: String): DataFrame =
    input.groupBy($"g").agg(expr(buildSql).as("sk"))
      .union(Seq((7, null: Array[Byte]), (8, Array.emptyByteArray)).toDF("g", "sk"))

  test("build aggregates: Column and SQL bytes equal the recorded ones in every mode") {
    val got = builds.flatMap { case (name, c, sql) =>
      run(input, $"g", "g", c, sql).map { case (mode, a, b) =>
        assert(a == b, s"$name/$mode: Column and SQL forms differ")
        s"$name/$mode" -> a
      }
    }
    assertRecorded(got)
  }

  test("merge aggregates: Column and SQL bytes equal the recorded ones in every mode") {
    val got = merges.flatMap { case (name, buildSql, merge, sqlName) =>
      run(sketchTable(buildSql), $"g" % 3, "g % 3", merge($"sk"), s"$sqlName(sk)").map {
        case (mode, a, b) =>
          assert(a == b, s"$name/$mode: Column and SQL forms differ")
          s"$name/$mode" -> a
      }
    }
    assertRecorded(got)
  }

  private def assertRecorded(got: Seq[(String, String)]): Unit = {
    val wrong = got.filterNot { case (k, v) => SketchFormatSpec.Recorded.get(k).contains(v) }
    assert(wrong.isEmpty, wrong.map { case (k, v) => s""""$k" -> "$v"""" }.mkString("not recorded: ", ",\n", ""))
  }

  test("a merge of per-group sketches is the whole-corpus sketch") {
    merges.foreach { case (name, buildSql, merge, _) =>
      val whole = input.agg(expr(buildSql)).as[Array[Byte]].head()
      val merged = sketchTable(buildSql).repartition(4).agg(merge($"sk")).as[Array[Byte]].head()
      assert(java.util.Arrays.equals(whole, merged), name)
    }
  }

  test("an all-null or empty merge is the empty binary, and the scalars read it") {
    val nulls = Seq[Option[Array[Byte]]](None, None).toDF("sk")
    val none = nulls.where(lit(false))
    for ((name, _, merge, _) <- merges; df <- Seq(nulls, none))
      assert(df.agg(merge($"sk")).as[Array[Byte]].head().isEmpty, name)
    val row = nulls.agg(hll_merge($"sk").as("h"), cms_merge($"sk").as("c"),
        bloom_merge($"sk").as("b"), qsketch_merge($"sk").as("q"))
      .select(hll_estimate($"h"), cms_query($"c", lit("x")), bloom_contains($"b", lit("x")),
        qsketch_count($"q"), qsketch_quantile($"q", lit(500)),
        cms_query(lit(null).cast("binary"), lit("x")), bloom_contains(lit(null).cast("binary"), lit("x")))
      .head()
    assert(row.getLong(0) == 0L && row.getLong(1) == 0L && !row.getBoolean(2) && row.getLong(3) == 0L)
    assert(row.isNullAt(4) && row.isNullAt(5) && row.isNullAt(6))
  }

  test("a lone malformed merge input fails with its family's message") {
    Seq("hll_merge(unhex('010203'))" -> "malformed hll sketch",
      "cms_merge(unhex('DEADBEEF'))" -> "malformed cms sketch",
      "bloom_merge(unhex('0000000800000001'))" -> "malformed bloom filter",
      "qsketch_merge(unhex('0000000500000001'))" -> "malformed qsketch").foreach { case (call, msg) =>
      val ex = intercept[Exception](spark.range(1).repartition(1).selectExpr(call).collect())
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
      assert(msgs.exists(_.contains(msg)), s"$call: ${msgs.mkString(" | ")}")
    }
  }
}

object SketchFormatSpec {
  /** md5 hex of each case's result bytes, recorded before the sketch
    * aggregates shared one build and one merge class.
    */
  val Recorded: Map[String, String] = Map(
    "hll_p8/global" -> "8f02583c044cd638a8c723082ae491d7",
    "hll_p8/grouped" -> "16cfa46ca28404aeca90016a74052fc3",
    "hll_p8/fallback" -> "16cfa46ca28404aeca90016a74052fc3",
    "hll_default/global" -> "8c70911bf884efbedf82b508e553ec7f",
    "hll_default/grouped" -> "4b595f8acaf24ac7eec56c4983eb76eb",
    "hll_default/fallback" -> "4b595f8acaf24ac7eec56c4983eb76eb",
    "cms/global" -> "6bf573d41006d78657120d82dae25588",
    "cms/grouped" -> "9cd024a0386b2f8366c77ea2896a4194",
    "cms/fallback" -> "9cd024a0386b2f8366c77ea2896a4194",
    "bloom/global" -> "18be5e963ac1946b5ce35f4fcedc05e9",
    "bloom/grouped" -> "fa6460c27300207f8ae298548ec6b304",
    "bloom/fallback" -> "fa6460c27300207f8ae298548ec6b304",
    "q_long/global" -> "c57cf2481019e122caeeb5cbcb876998",
    "q_long/grouped" -> "104793e2af06ffd8cb4ebd8baff6c0fb",
    "q_long/fallback" -> "104793e2af06ffd8cb4ebd8baff6c0fb",
    "q_int/global" -> "4853523acaebc68c172d05644a1459ee",
    "q_int/grouped" -> "49dd58d38f55f20c1a6a1387badb154a",
    "q_int/fallback" -> "49dd58d38f55f20c1a6a1387badb154a",
    "q_short/global" -> "8a7e020c5ebd3b297841e7605b85b91f",
    "q_short/grouped" -> "48075d71b237c5842dd1265b7d55972a",
    "q_short/fallback" -> "48075d71b237c5842dd1265b7d55972a",
    "q_byte/global" -> "1f00a96ae2fa3f4c0c387b983d66af39",
    "q_byte/grouped" -> "5db49b7fda47984090f373f39310f1fd",
    "q_byte/fallback" -> "5db49b7fda47984090f373f39310f1fd",
    "hll_merge/global" -> "b79fa02801932f9f79c551f9c44ec251",
    "hll_merge/grouped" -> "4093b9c3a4b2ac948c164e331326da3f",
    "hll_merge/fallback" -> "4093b9c3a4b2ac948c164e331326da3f",
    "cms_merge/global" -> "103669d03bc0651bce65d9936e4e8bf2",
    "cms_merge/grouped" -> "255d123180bbaac1496047334b99ed7e",
    "cms_merge/fallback" -> "255d123180bbaac1496047334b99ed7e",
    "bloom_merge/global" -> "914cb5ffb6f18b48b7dbaa07a4f9acb0",
    "bloom_merge/grouped" -> "e2f6c64eb58c3b305795fafe30fc4df6",
    "bloom_merge/fallback" -> "e2f6c64eb58c3b305795fafe30fc4df6",
    "qsketch_merge/global" -> "c57cf2481019e122caeeb5cbcb876998",
    "qsketch_merge/grouped" -> "81193efdf697149ef993cf79d2a0aad3",
    "qsketch_merge/fallback" -> "81193efdf697149ef993cf79d2a0aad3")
}
