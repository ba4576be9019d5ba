package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{IntegerType, StringType, TimestampNTZType, TimestampType}

import graft.SparkSpec.jobsFor

/** `SparkEntry.t` remembers each gate table file's inferred parquet schema,
 *  so a later read of the unchanged file (and a later build of a query)
 *  starts no Spark job. The memo must return exactly what inference
 *  returns, and must be missed whenever inference could answer differently:
 *  a rewritten file, a changed inference setting, a directory. */
class SchemaMemoSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  /** `df` written as the single parquet file `$dir/$name.parquet`, in place
   *  of any file already there. */
  private def writeTable(dir: Path, name: String, df: DataFrame): Unit = {
    val staging = Files.createTempDirectory(dir, "staging")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).iterator.asScala
      .find(p => p.getFileName.toString.matches("part-.*\\.parquet")).get
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("every gate table's remembered schema equals a fresh inference, metadata included") {
    tables.foreach { name =>
      SparkEntry.t(spark, sf, name)
      var memo: DataFrame = null
      assert(jobsFor(s"memo-$name") { memo = SparkEntry.t(spark, sf, name) } == 0,
        s"$name: a second read inferred again")
      val fresh = spark.read.parquet(s"$sf/$name.parquet").schema
      assert(memo.schema == fresh, s"$name: ${memo.schema} != $fresh")
      assert(memo.schema.json == fresh.json, name)
    }
  }

  test("a second build of q1_agg and of q3_revenue starts no Spark job") {
    Seq("q1_agg", "q3_revenue").foreach { q =>
      SparkEntry.queries(q)(spark, sf)
      val jobs = jobsFor(s"memo-build-$q") { SparkEntry.queries(q)(spark, sf) }
      assert(jobs == 0, s"$q: the second build started $jobs jobs")
    }
  }

  test("a table rewritten in place with another column type is inferred again") {
    val dir = Files.createTempDirectory("schemamemo")
    writeTable(dir, "tbl", spark.range(3).selectExpr("id", "cast(id as int) as v"))
    assert(SparkEntry.t(spark, dir.toString, "tbl").schema("v").dataType == IntegerType)
    writeTable(dir, "tbl", spark.range(3).selectExpr("id", "concat('x', id) as v"))
    val reread = SparkEntry.t(spark, dir.toString, "tbl")
    assert(reread.schema("v").dataType == StringType)
    assert(reread.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("x0", "x1", "x2"))
  }

  test("changing an inference setting in the same session re-infers the schema") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    def ts = SparkEntry.t(spark, sf, "events").schema("ts").dataType
    try {
      assert(ts == TimestampNTZType)
      spark.conf.set(key, "false")
      assert(ts == TimestampType)
      spark.conf.unset(key)
      assert(ts == TimestampNTZType)
    } finally spark.conf.unset(key)
  }

  test("a missing table fails with Spark's path-not-found error naming the path") {
    val dir = Files.createTempDirectory("schemamemo-missing").toString
    val e = intercept[AnalysisException] { SparkEntry.t(spark, dir, "nope") }
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
    assert(e.getMessage.contains(s"$dir/nope.parquet"), e.getMessage)
  }

  test("a directory is inferred on every read, never remembered") {
    val dir = Files.createTempDirectory("schemamemo-dir")
    spark.range(3).selectExpr("id").write.parquet(dir.resolve("d.parquet").toString)
    SparkEntry.t(spark, dir.toString, "d")
    val jobs = jobsFor("memo-dir") { SparkEntry.t(spark, dir.toString, "d") }
    assert(jobs >= 1, "a directory's schema was taken from the memo")
  }
}
