package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** JdbcTableStore coverage against embedded Derby (the only database in
  * the container — Derby ships with Spark): catalog probes, the staged
  * per-partition commit and its rollback, and createIfAbsent, over real
  * connections.
  */
class JdbcStoreSpec extends SparkSpec {
  import spark.implicits._

  // Unique DB per suite instantiation: in-memory Derby state survives for
  // the life of the JVM, so a reused JVM (sbt server, repeated testOnly)
  // would otherwise see tables from a previous run.
  private val url =
    s"jdbc:derby:memory:graft_jdbc_${java.util.UUID.randomUUID().toString.take(8)};create=true"
  private val props = new java.util.Properties()

  private def exec(sql: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().executeUpdate(sql) finally conn.close()
  }

  test("JdbcTableStore.exists reflects the catalog — absent tables are absent") {
    // The old `= true` stub broke every exists-gated OPTIONAL table read
    // (forward index, versioned-index manifest bootstrap): load() of a
    // missing table throws at schema resolution, and an exists-gated
    // APPEND would auto-create a PARTIAL table later reads trust.
    val store = new JdbcTableStore(spark, url, props)
    assert(!store.exists("never_created_tbl"),
      "exists() claims a table the catalog does not hold")
    store.append("exists_probe", Seq((1, "a")).toDF("k", "v"))
    assert(store.exists("exists_probe"))
    // The gated-read composition that motivated the fix: a versioned
    // index bootstraps on a fresh JDBC store (manifest probe returns
    // None instead of loading a missing table).
    assert(graft.io.VersionedIndex.currentGeneration(store, "fresh_idx").isEmpty)
  }

  test("JdbcTableStore per-partition commit rewrites only the target job's rows") {
    val store = new JdbcTableStore(spark, url, props)
    store.append("ptab", Seq((1, "a"), (1, "b"), (2, "c")).toDF("job_id", "payload"))
    // Replace job 2's rows from a plan that READS the target table (the
    // store must materialize to the temp table before mutating):
    val replacement = store.load("ptab").filter(col("job_id") === 2)
      .withColumn("payload", lit("z"))
      .unionByName(Seq((2, "y")).toDF("job_id", "payload"))
    store.overwritePartitionsAll(Seq(PartitionCommit("ptab", replacement, "job_id", 2)))
    val rows = store.load("ptab").as[(Int, String)].collect().toSet
    assert(rows === Set((1, "a"), (1, "b"), (2, "z"), (2, "y")))
  }

  test("two same-table commits in one call both land (unique temp tables)") {
    val store = new JdbcTableStore(spark, url, props)
    store.append("ptab2", Seq((1, "a"), (2, "b"), (3, "c")).toDF("job_id", "payload"))
    // A fixed temp-table name would stage job 2's rows, then OVERWRITE them
    // with job 3's before the first INSERT ... SELECT ran.
    store.overwritePartitionsAll(Seq(
      PartitionCommit("ptab2", Seq((2, "B")).toDF("job_id", "payload"), "job_id", 2),
      PartitionCommit("ptab2", Seq((3, "C")).toDF("job_id", "payload"), "job_id", 3)))
    val rows = store.load("ptab2").as[(Int, String)].collect().toSet
    assert(rows === Set((1, "a"), (2, "B"), (3, "C")))
  }

  test("a failed partition commit rolls back: the DELETE never lands alone") {
    exec("CREATE TABLE ptx (k INT NOT NULL PRIMARY KEY, v VARCHAR(8))")
    val store = new JdbcTableStore(spark, url, props)
    val conn0 = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn0.createStatement()
      st.executeUpdate("INSERT INTO ptx VALUES (1, 'a'), (2, 'b')")
      st.close()
    } finally conn0.close()
    // Duplicate PK rows make the INSERT ... SELECT violate the constraint
    // AFTER the partition DELETE already executed in the same transaction.
    val bad = Seq((2, "x"), (2, "y")).toDF("K", "V")
    intercept[Exception] {
      store.overwritePartitionsAll(Seq(PartitionCommit("ptx", bad, "K", 2)))
    }
    // Autocommit DELETE would have destroyed row (2,'b'); the transaction
    // must have rolled it back.
    val rows = spark.read.jdbc(url, "ptx", props).as[(Int, String)].collect().toSet
    assert(rows === Set((1, "a"), (2, "b")))
  }

  test("JdbcTableStore.createIfAbsent: creates once, refuses thereafter (DDL-arbitrated)") {
    val store = new JdbcTableStore(spark, url, props)
    import spark.implicits._
    assert(store.createIfAbsent("cas_claim",
      Seq((1L, "first")).toDF("generation", "token")))
    assert(!store.createIfAbsent("cas_claim",
      Seq((2L, "late")).toDF("generation", "token")))
    val row = store.load("cas_claim").as[(Long, String)].head()
    assert(row === ((1L, "first")))
  }
}
