package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Candidates

class CandidatesSpec extends SparkSpec {
  import spark.implicits._

  /** The self-join `bucketMates` stands for: every row of a bucket
    * meets every row of it, and a bucket of more than `maxBucket`
    * non-null members pairs nothing. */
  private def selfJoinMates(keyed: DataFrame, keys: Seq[String],
      member: String, maxBucket: Long): DataFrame = {
    val kept = keyed.filter(col(member).isNotNull).groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_n")).filter(col("_n") <= maxBucket)
    val capped = keyed.join(kept, keys)
    val a = capped.select(keys.map(col) :+ col(member).as("id1"): _*)
    val b = capped.select(keys.map(col) :+ col(member).as("id2"): _*)
    a.join(b, keys).filter(col("id1") < col("id2")).select("id1", "id2")
  }

  private def multiset(df: DataFrame): Seq[String] =
    df.select("id1", "id2").collect().map(_.toString).sorted.toSeq

  private val MaxBucket = 5L

  /** Random (k1, k2, id, tag) rows: repeated and null keys, null ids,
    * duplicate (key, id) rows and singleton buckets, plus one bucket
    * of exactly `MaxBucket` members and one of `MaxBucket + 1`. */
  private lazy val keyed: DataFrame = {
    val rnd = new Random(11)
    def opt[T](v: T): Option[T] = if (rnd.nextInt(12) == 0) None else Some(v)
    val random = (1 to 400).map(_ =>
      (opt(rnd.nextInt(4)), opt(rnd.nextInt(25)), opt(rnd.nextInt(40).toLong),
        rnd.nextInt(3)))
    val atCap = (1L to MaxBucket).map(i => (Some(9), Some(100), Some(i), 0))
    val overCap = (1L to MaxBucket + 1).map(i => (Some(9), Some(101), Some(i), 0))
    val fixed = Seq((Some(9), Some(102), Some(1L), 0), // singleton
      (Some(9), Some(103), Some(1L), 0), (Some(9), Some(103), Some(1L), 1),
      (Some(9), Some(103), Some(2L), 0)) // duplicate (key, id) rows
    (random ++ atCap ++ overCap ++ fixed).toDF("k1", "k2", "id", "tag")
      .withColumn("m", struct(col("id"), col("tag")))
  }

  test("bucketMates returns the self-join's pair multiset, scalar and struct members") {
    for (member <- Seq("id", "m"); maxBucket <- Seq(MaxBucket, Long.MaxValue)) {
      val got = multiset(Candidates.bucketMates(keyed, Seq("k1", "k2"), col(member), maxBucket))
      val want = multiset(selfJoinMates(keyed, Seq("k1", "k2"), member, maxBucket))
      assert(got == want, s"member=$member maxBucket=$maxBucket")
      assert(want.nonEmpty)
    }
  }

  test("bucketMates keeps a bucket at maxBucket and drops one above it") {
    def pairsOf(k2: Int): Long = Candidates.bucketMates(
      keyed.filter(col("k1") === 9 && col("k2") === k2), Seq("k1", "k2"), col("id"),
      MaxBucket).count()
    assert(pairsOf(100) == MaxBucket * (MaxBucket - 1) / 2)
    assert(pairsOf(101) == 0L)
    assert(pairsOf(102) == 0L)
    assert(pairsOf(103) == 2L) // (1, 2) once per row of id 1
  }

  test("verify gives identical rows over budget (shuffle-hash) and within the default (broadcast)") {
    val sets = Seq((1L, Seq("a", "b")), (2L, Seq("b", "c")), (3L, Seq("a", "b")),
      (4L, Seq("d"))).toDF("id", "_sh")
    val cand = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("id1", "id2").persist()
    def run(budget: Long): (Seq[(Long, Long, String)], Boolean) = {
      val df = Candidates.verify(cand, sets, "id", budget)
      val rows = df.as[(Long, Long, Seq[Seq[String]])].collect()
        .map { case (a, b, ab) => (a, b, ab.map(_.mkString(",")).sorted.mkString(" ")) }
        .sorted.toSeq
      (rows, df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    }
    val (shuffled, shuffledBroadcast) = run(1L) // 4 candidate rows exceed 1
    val (default, defaultBroadcast) = run(1000000L)
    assert(shuffled == default)
    assert(default == Seq((1L, 2L, "a,b b,c"), (1L, 3L, "a,b a,b"),
      (2L, 4L, "b,c d"), (3L, 4L, "a,b d")))
    assert(!shuffledBroadcast && defaultBroadcast)
    intercept[IllegalArgumentException](Candidates.verify(cand, sets, "id", 0L))
    cand.unpersist()
  }
}
