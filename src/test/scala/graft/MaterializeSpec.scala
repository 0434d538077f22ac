package graft

import graft.Materialize.TrunkCheckpointOps
import graft.functions.{Bpe, ConnectedComponents}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The session-trunk seam ([[Materialize.trunk]]) and the checkpoint
  * drop discipline of the iterative kernels: what stays in block
  * storage after a trunk build or a kernel call is exactly what a
  * later reader still needs. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def rddId(df: DataFrame): Int = df.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd.id
    case other => fail(s"not a checkpoint leaf: ${other.nodeName}")
  }
  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet
  // keys are per test so specs sharing the session never collide
  private def key(test: String, part: Any) = ("MaterializeSpec", test, part)

  test("a trunk build may resolve other trunks inside its build") {
    // a chain of trunks, each built inside its successor's build —
    // nested insertions into the one session map
    var builds = 0
    def link(i: Int): DataFrame =
      Materialize.trunk(spark, key("chain", i)) {
        builds += 1
        if (i == 0) spark.range(8).toDF("id")
        else link(i - 1).select(($"id" + 1).as("id"))
      }
    val top = link(12)
    assert(builds == 13)
    assert(top.agg(org.apache.spark.sql.functions.min($"id"))
      .as[Long].head() == 12L)
    assert(Materialize.trunk(spark, key("chain", 12))(fail("rebuilt")) eq top)
    assert(Materialize.trunk(spark, key("chain", 5))(fail("rebuilt"))
      .count() == 8)
    assert(builds == 13)
  }

  test("a normal-mode trunk survives release and comes back by " +
    "reference; checkpoints made inside its build are released") {
    var inner: DataFrame = null
    val t = Materialize.trunk(spark, key("pin", "t")) {
      inner = spark.range(100).toDF("id").trunkCheckpoint()
      inner.filter($"id" < 50)
    }
    val (trunkId, innerId) = (rddId(t), rddId(inner))
    assert(persistedIds(trunkId) && persistedIds(innerId))
    CheckpointHygiene.release(spark)
    assert(persistedIds(trunkId), "the trunk's own checkpoint was released")
    assert(!persistedIds(innerId), "a build intermediate stayed pinned")
    assert(Materialize.trunk(spark, key("pin", "t"))(fail("rebuilt")) eq t)
    assert(t.count() == 50)
  }

  test("a fresh scope builds a key once; release reclaims that build") {
    var builds = 0
    def get() = Materialize.trunk(spark, key("fresh", "t")) {
      builds += 1
      spark.range(20).toDF("id")
    }
    val (a, b) = Materialize.fresh { (get(), Materialize.fresh(get())) }
    assert(builds == 1 && (a eq b))
    val id = rddId(a)
    assert(persistedIds(id))
    CheckpointHygiene.release(spark)
    assert(!persistedIds(id), "a fresh-scope trunk was pinned")
    // neither the fresh build nor a transparent one enters the memo
    val raw = spark.range(3).toDF("id")
    assert(Materialize.transparent {
      Materialize.trunk(spark, key("fresh", "t"))(raw) } eq raw)
    val c = get()
    assert(builds == 2 && !(c eq a))
  }

  test("minLabel and Bpe.train leave behind only the checkpoints " +
    "their result still reads") {
    CheckpointHygiene.release(spark)
    // chain 1-2-...-8 (diameter 7: min-label needs 8 rounds) plus an
    // isolated node
    val nodes = (1L to 8L).:+(100L).toDF("id")
    val edges = (1L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val before = persistedIds
    val labels = ConnectedComponents.minLabel(nodes, edges)
    val ccGrowth = persistedIds -- before
    // the result reads the final labels and the touched-node set
    assert(ccGrowth.size <= 2, s"minLabel retained $ccGrowth")
    assert(labels.as[(Long, Long)].collect().toMap ==
      ((1L to 8L).map(_ -> 1L) :+ (100L -> 100L)).toMap)

    val words = Seq(("banana", 5L), ("bandana", 3L), ("ananas", 2L),
      ("nab", 1L)).toDF("word", "n")
    val before2 = persistedIds
    val (merges, syms) = Bpe.train(words, rounds = 4)
    val bpeGrowth = persistedIds -- before2
    // merges is a local relation; syms is the final word checkpoint
    assert(bpeGrowth.size <= 1, s"Bpe.train retained $bpeGrowth")
    assert(merges.count() == 4)
    assert(syms.count() == 4)
  }
}
