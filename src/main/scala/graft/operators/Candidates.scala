package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Candidate pairs for every blocking near-dup operator: rows that
  * share a key (a shingle, a band bucket, a frame hash, a k-means
  * cell) pair up, and only those pairs are ever compared.
  *
  * [[bucketMates]] is the blocking step. One hash aggregation on the
  * key gathers each bucket's members into one sorted array, and the
  * pairs stream out of two explodes after it. A self-join of the keyed
  * frame with renamed sides would shuffle it once per side: two map
  * stages that each recompute the key, since a cached input gets fresh
  * attribute ids on the second side and the two exchanges no longer
  * match for reuse. A bucket's members sit in one row: the memory a
  * hash-join build on the key would hold.
  *
  * [[verify]] is the verification step of the set-Jaccard miners: it
  * attaches both ends' sets to each candidate pair through the pair
  * list, never through a corpus-keyed join. */
object Candidates {

  /** Every pair of `member` values that share `keys` in `keyed`: one
    * row `(keys.., id1, id2)` per pair with `id1 < id2` in member order,
    * the multiset a self-join on `keys` filtered on `id1 < id2` returns.
    * Rows with a null key or a null member never pair. A bucket of more
    * than `maxBucket` members yields no pairs (the hot-key guard; its
    * size counts the bucket's non-null members). There is no
    * `distinct`: a pair that shares several keys comes out once per
    * key, and callers `distinct()` or count. */
  def bucketMates(keyed: DataFrame, keys: Seq[String], member: Column,
      maxBucket: Long = Long.MaxValue): DataFrame = {
    // an unbounded bucket plans no upper-bound test
    val sized =
      if (maxBucket == Long.MaxValue) size(col("_ids")) > 1
      else size(col("_ids")).between(2, maxBucket)
    keyed.filter((keys.map(col) :+ member).map(_.isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*).agg(array_sort(collect_list(member)).as("_ids"))
      .filter(sized)
      .select(keys.map(col) :+ col("_ids") :+
        posexplode(col("_ids")).as(Seq("_i", "id1")): _*)
      .select(keys.map(col) :+ col("id1") :+ explode(slice(col("_ids"),
        col("_i") + 2, size(col("_ids")) - col("_i") - 1)).as("id2"): _*)
      .filter(col("id1") < col("id2"))
  }

  /** Attach the `_sh` sets of `sets` (`id`, `_sh`) to both ends of the
    * distinct `(id1, id2)` pairs of `cand` and regroup by pair: one row
    * `(id1, id2, _ab)` per pair, `_ab` holding the two sets in no fixed
    * order (set Jaccard is symmetric). The pair list is unpivoted to
    * one row per end and joined against `sets` by broadcast when `cand`
    * has at most `budget` rows (one bounded probe; callers persist
    * `cand` so the probe and the join share it), by shuffle-hash
    * otherwise. A duplicate-heavy corpus can make the candidate list
    * quadratic, so the broadcast is never assumed. */
  def verify(cand: DataFrame, sets: DataFrame, id: String,
      budget: Long): DataFrame =
    verify(cand, sets, id, Dedup.fitsBudget(cand, budget))

  /** [[verify]] with the broadcast decision already taken: for a caller
    * that needs the same decision for a later join. */
  private[operators] def verify(cand: DataFrame, sets: DataFrame, id: String,
      fits: Boolean): DataFrame = {
    val ends = cand.select(col("id1"), col("id2"),
      explode(array(col("id1"), col("id2"))).as(id))
    val attached =
      if (fits) sets.join(broadcast(ends), Seq(id))
      else sets.hint("shuffle_hash").join(ends, Seq(id))
    attached.groupBy(col("id1"), col("id2"))
      .agg(collect_list(col("_sh")).as("_ab"))
  }

  /** Shared-key count Jaccard over `keyed` (`id`, `_size`, `key`):
    * `(id1, id2, shared, jaccard)` for every id pair sharing at least
    * one key, `shared` the number of keys they share and `jaccard` the
    * unrounded `shared / (_size1 + _size2 - shared)`. Exact when each
    * id's keys are distinct and `_size` is their count. */
  private[operators] def sharedKeyJaccard(keyed: DataFrame, key: String,
      maxBucket: Long = Long.MaxValue): DataFrame =
    bucketMates(keyed, Seq(key), struct(col("id"), col("_size")), maxBucket)
      .select(col("id1.id").as("id1"), col("id2.id").as("id2"),
        col("id1._size").as("_s1"), col("id2._size").as("_s2"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2", "_s1", "_s2")
      .agg(count(lit(1)).as("shared"))
      .select(col("id1"), col("id2"), col("shared"),
        (col("shared").cast("double") /
          (col("_s1") + col("_s2") - col("shared")).cast("double")).as("jaccard"))
}
