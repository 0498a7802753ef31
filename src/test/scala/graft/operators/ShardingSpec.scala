package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Sharding.corpusShuffle]]: the output is a permutation (every
  * id exactly once), per-shard positions are contiguous from 1,
  * assignment is deterministic across runs and partitionings, the salt
  * actually reshuffles, and shards are statistically balanced. */
class ShardingSpec extends AnyFunSuite with graft.SharedSpark {

  import spark.implicits._

  private val n = 2000
  private def ids = (1 to n).map(_.toLong).toDF("doc_id")

  test("permutation: every id once; positions contiguous per shard") {
    val out = Sharding.corpusShuffle(ids, "doc_id", 16, "s1").collect()
    assert(out.length === n)
    assert(out.map(_.getLong(0)).toSet === (1 to n).map(_.toLong).toSet)
    out.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      val ps = rows.map(_.getLong(2)).sorted
      assert(ps === (1L to rows.length.toLong).toArray.toSeq, "gap in pos")
    }
  }

  test("deterministic across runs and input partitionings") {
    val a = Sharding.corpusShuffle(ids, "doc_id", 16, "s1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Sharding.corpusShuffle(ids.repartition(13), "doc_id", 16, "s1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b)
  }

  test("salt reshuffles; shards stay balanced") {
    def shardOf(salt: String): Map[Long, Long] =
      Sharding.corpusShuffle(ids, "doc_id", 16, salt)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s1 = shardOf("s1"); val s2 = shardOf("s2")
    val moved = (1 to n).count(i => s1(i.toLong) != s2(i.toLong))
    assert(moved > n / 2, s"salt change moved only $moved of $n")
    // balance: expected 125/shard, allow 4 sigma (~±45)
    val sizes = s1.values.groupBy(identity).map(_._2.size)
    assert(sizes.size === 16)
    assert(sizes.forall(s => s > 80 && s < 170), s"imbalanced: $sizes")
  }
}
