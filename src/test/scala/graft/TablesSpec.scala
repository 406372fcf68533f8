package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.core.Tables

/** `Tables.load` infers a table's schema once per session and file
  * state: later loads start no job, a rewritten table and a changed
  * inference conf are inferred again, and each session keeps its own. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val Sf0001 = s"${SparkSpec.TestData}/sf0.001"

  private def jobs(s: SparkSession)(body: => Unit): Int =
    Probes.jobsOf(s.sparkContext)(body).size

  test("the first load in a session infers the schema in one job, a second load starts none") {
    val s = spark.newSession()
    assert(jobs(s)(Tables.nation(s, Sf0001)) == 1)
    assert(jobs(s)(Tables.nation(s, Sf0001)) == 0)
    assert(Tables.nation(s, Sf0001).schema == s.read.parquet(s"$Sf0001/nation.parquet").schema)
    // the resolved schema plans the same scan (attribute ids aside)
    def scan(df: org.apache.spark.sql.DataFrame) =
      df.select("n_name").queryExecution.executedPlan.collectLeaves()
        .map(_.simpleString(100).replaceAll("#\\d+", ""))
    assert(scan(Tables.nation(s, Sf0001)) ==
      scan(s.read.parquet(s"$Sf0001/nation.parquet")))
  }

  test("a table rewritten at the same path with another schema is inferred again") {
    val dir = Files.createTempDirectory("graft-tables").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val first = Tables.load(spark, dir, "t")
    assert(first.schema.map(f => f.name -> f.dataType) == Seq("k" -> LongType, "v" -> StringType))
    Seq((1, 2.5, 7L)).toDF("k", "v", "w").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val second = Tables.load(spark, dir, "t")
    assert(second.schema.map(f => f.name -> f.dataType) ==
      Seq("k" -> IntegerType, "v" -> DoubleType, "w" -> LongType))
    assert(second.as[(Int, Double, Long)].collect().toSeq == Seq((1, 2.5, 7L)))
    // and the new state is cached in turn
    assert(jobs(spark)(Tables.load(spark, dir, "t")) == 0)
  }

  test("binaryAsString is part of the key: each session and setting infers its own type") {
    val dir = Files.createTempDirectory("graft-tables").toString
    // written without Spark's schema in the footer: inference prefers
    // that stored schema, which would hide the conf
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 k; required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/bin.parquet")).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("k", 1L).append("b", "ab"))
    finally w.close()
    def bType(s: SparkSession) = Tables.load(s, dir, "bin").schema("b").dataType
    assert(bType(spark) == BinaryType)
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(bType(asString) == StringType)
    assert(Tables.load(asString, dir, "bin").select("b").as[String].collect().toSeq == Seq("ab"))
    assert(bType(spark) == BinaryType)
    asString.conf.set("spark.sql.parquet.binaryAsString", "false")
    assert(bType(asString) == BinaryType)
  }

  test("Tables.events reads ts as TimestampType on every fixture, cached or not") {
    val fixtures = new java.io.File(SparkSpec.TestData).listFiles()
      .filter(d => new java.io.File(d, "events.parquet").exists()).map(_.getPath).sorted
    assert(fixtures.nonEmpty)
    fixtures.foreach { d =>
      val s = spark.newSession()
      val first = Tables.events(s, d)
      val again = Tables.events(s, d)
      assert(first.schema("ts").dataType == TimestampType, d)
      assert(again.schema == first.schema, d)
      assert(again.agg(org.apache.spark.sql.functions.max("ts")).head() ==
        first.agg(org.apache.spark.sql.functions.max("ts")).head(), d)
    }
  }
}
