package graft

import org.apache.spark.sql.types._

/** Contract spec for the driver-generated testdata (TESTDATA.md).
  *
  * Two prior rounds lost most of a round to silent environment drift (the
  * events.parquet timestamp encoding changed shape between sessions and 25
  * queries died at analysis time while every artifact still said rc=0).
  * This suite pins the expected column names and types of all ten parquet
  * tables so any future drift fails ONE named test with a readable diff
  * instead of a family of opaque downstream failures.
  *
  * Timestamp-ish columns tolerate the known-variant encodings the driver
  * has shipped across rounds: TIMESTAMP(NANOS) read as long (under
  * `spark.sql.legacy.parquet.nanosAsLong=true`), `timestamp[us]` read as
  * TIMESTAMP/TIMESTAMP_NTZ, and date. `StandIn.events` branches on the
  * actual type at read time.
  */
class TestdataContractSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Acceptable encodings for a time-valued column across driver rounds. */
  private val timeish: Set[DataType] =
    Set(LongType, TimestampType, TimestampNTZType, DateType)

  // name -> (column -> accepted types); singleton set = exact type pin.
  private val contract: Map[String, Seq[(String, Set[DataType])]] = Map(
    "region" -> Seq(
      "r_regionkey" -> Set(IntegerType), "r_name" -> Set(StringType)),
    "nation" -> Seq(
      "n_nationkey" -> Set(IntegerType), "n_name" -> Set(StringType),
      "n_regionkey" -> Set(IntegerType)),
    "customer" -> Seq(
      "c_custkey" -> Set(LongType), "c_name" -> Set(StringType),
      "c_nationkey" -> Set(IntegerType), "c_acctbal" -> Set(DoubleType),
      "c_mktsegment" -> Set(StringType)),
    "supplier" -> Seq(
      "s_suppkey" -> Set(LongType), "s_name" -> Set(StringType),
      "s_nationkey" -> Set(IntegerType), "s_acctbal" -> Set(DoubleType)),
    "part" -> Seq(
      "p_partkey" -> Set(LongType), "p_name" -> Set(StringType),
      "p_brand" -> Set(StringType), "p_type" -> Set(StringType),
      "p_size" -> Set(IntegerType), "p_retailprice" -> Set(DoubleType)),
    "orders" -> Seq(
      "o_orderkey" -> Set(LongType), "o_custkey" -> Set(LongType),
      "o_orderstatus" -> Set(StringType), "o_totalprice" -> Set(DoubleType),
      "o_orderdate" -> timeish, "o_orderpriority" -> Set(StringType)),
    "lineitem" -> Seq(
      "l_orderkey" -> Set(LongType), "l_partkey" -> Set(LongType),
      "l_suppkey" -> Set(LongType), "l_linenumber" -> Set(IntegerType),
      "l_quantity" -> Set(DoubleType), "l_extendedprice" -> Set(DoubleType),
      "l_discount" -> Set(DoubleType), "l_tax" -> Set(DoubleType),
      "l_returnflag" -> Set(StringType), "l_linestatus" -> Set(StringType),
      "l_shipdate" -> timeish),
    "events" -> Seq(
      "event_id" -> Set(LongType), "ts" -> timeish,
      "user_id" -> Set(LongType), "event_type" -> Set(StringType),
      "value" -> Set(DoubleType), "props" -> Set(StringType)),
    "documents" -> Seq(
      "doc_id" -> Set(LongType), "text" -> Set(StringType),
      "lang" -> Set(StringType), "source" -> Set(StringType),
      "n_chars" -> Set(LongType)),
    "embeddings" -> Seq(
      "vec_id" -> Set(LongType),
      "embedding" -> Set(ArrayType(FloatType, containsNull = true),
                         ArrayType(FloatType, containsNull = false)),
      "label" -> Set(IntegerType))
  )

  contract.foreach { case (table, cols) =>
    test(s"testdata contract: $table") {
      val schema = spark.read.parquet(s"$dir/$table.parquet").schema
      val actual = schema.fields.map(f => f.name -> f.dataType).toMap
      val missing = cols.map(_._1).filterNot(actual.contains)
      assert(missing.isEmpty,
        s"\n$table is missing columns $missing; actual schema: ${schema.treeString}")
      val mismatched = cols.collect {
        case (name, accepted) if !accepted.contains(actual(name)) =>
          s"$name: got ${actual(name)}, accepted ${accepted.mkString("|")}"
      }
      assert(mismatched.isEmpty,
        s"\n$table column type drift:\n  ${mismatched.mkString("\n  ")}")
    }
  }

  test("oracle contract: queries and oracleSql carry exactly the same keys") {
    // A typo'd oracle key silently becomes a dead correctness row (the
    // driver records a weaker rows-only check); a queries entry without
    // oracle SQL weakens the gate the same way. Keep the maps in lockstep
    // — any intentionally rows-only query must be listed here explicitly.
    val rowsOnly = Set.empty[String]
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert((os -- qs).isEmpty, s"oracleSql keys without queries: ${os -- qs}")
    assert((qs -- os -- rowsOnly).isEmpty,
      s"queries without oracle SQL: ${qs -- os -- rowsOnly}")
  }

  test("oracle contract: LM twins share one oracle text") {
    // A persisted/appended/positional twin proves store-serve == inline
    // only because its oracle is the SAME SQL as the inline row's: a hash
    // match of both against one text makes the two Spark paths equal.
    val twins = Seq(
      Seq("q_kn_trigram", "q_kn3_persisted", "q_kn3_positional"),
      Seq("q_mkn_trigram", "q_mkn3_persisted"),
      Seq("q_mkn_bigram", "q_mkn_persisted"),
      Seq("q_kn5_persisted", "q_kn5_append"),
      Seq("q_kn5_holdout", "q_kn5_persisted_holdout"),
      Seq("q_kn3_holdout", "q_kn3_persisted_holdout"),
      Seq("q_kn_score_holdout", "q_kn_persisted", "q_kn_append"))
    val os = SparkEntry.oracleSql
    for (group <- twins) {
      val texts = group.map(os)
      assert(texts.distinct.size == 1, s"oracle texts differ within $group")
    }
  }

  test("testdata contract: StandIn.events yields a usable timestamp") {
    val df = StandIn.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType ||
           df.schema("ts").dataType == TimestampNTZType,
      s"StandIn.events ts is ${df.schema("ts").dataType}")
    // Analysis + execution must both survive whatever encoding shipped.
    val n = df.selectExpr("max(ts)", "count(*)").collect()(0).getLong(1)
    assert(n > 0)
  }
}
