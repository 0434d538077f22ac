package graft

import graft.Materialize.TrunkCheckpointOps
import graft.functions.{Bpe, ConnectedComponents, GraphKernels}
import graft.queries.Scale
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The session-trunk seam ([[Materialize.trunk]]), the fixpoint driver
  * ([[Materialize.fixpoint]]) and the checkpoint drop discipline of the
  * iterative kernels: what stays in block storage after a trunk build
  * or a kernel call is exactly what a later reader still needs. */
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
    // the fresh build does not enter the memo
    val c = get()
    assert(builds == 2 && !(c eq a))
  }

  test("fixpoint: a cap exit throws and drops the generations the " +
    "driver created") {
    CheckpointHygiene.release(spark)
    val init = spark.range(10).toDF("id").trunkCheckpoint()
    val before = persistedIds
    // every step shifts every id, so only the cap ends the loop
    def shift(d: DataFrame) = d.select(($"id" + 1).as("id"))
    val err = intercept[IllegalStateException](
      Materialize.fixpoint(init, 3)(shift))
    assert(err.getMessage.contains("cap of 3 rounds"), err.getMessage)
    assert(persistedIds == before,
      s"a capped run left ${persistedIds -- before} persisted")
    // a kernel whose budget is its contract asks for the capped frame
    val (shifted, n1) = Materialize.fixpoint(init, 3, acceptCap = true)(shift)
    assert(n1 == 3, s"capped run returned $n1 changed steps")
    assert(shifted.as[Long].collect().sorted.toSeq == (3L to 12L))
    // one shrinking step, then a no-op step: converged after 1 change
    val (kept, n2) = Materialize.fixpoint(init, 10)(_.filter($"id" < 5))
    assert(n2 == 1, s"fixpoint returned $n2 changed steps")
    assert(kept.count() == 5)
    // each loop keeps only the frame it returned; init is never dropped
    assert(persistedIds -- before == Set(rddId(shifted), rddId(kept)))
    assert(persistedIds(rddId(init)) && init.count() == 10)
    // the returned frames are materialized checkpoints, so the
    // query-boundary sweep reclaims them
    CheckpointHygiene.release(spark)
    assert(!persistedIds(rddId(shifted)) && !persistedIds(rddId(kept)))
  }

  test("minLabel and Bpe.train leave behind only the checkpoints " +
    "their result still reads") {
    CheckpointHygiene.release(spark)
    // chain 1-2-...-8 (diameter 7) plus an isolated node
    val nodes = (1L to 8L).:+(100L).toDF("id")
    val edges = (1L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val chainLabels = ((1L to 8L).map(_ -> 1L) :+ (100L -> 100L)).toMap
    // growth in persisted RDDs across one kernel call
    def retained[T](kernel: => T): (T, Set[Int]) = {
      val before = persistedIds
      val out = kernel
      (out, persistedIds -- before)
    }
    val (labels, ccGrowth) =
      retained(ConnectedComponents.minLabel(nodes, edges))
    // the result reads only the materialized labels
    assert(ccGrowth.size <= 1, s"minLabel retained $ccGrowth")
    assert(labels.as[(Long, Long)].collect().toMap == chainLabels)

    // the graph kernels keep only their final frame
    val bi = edges.unionByName(edges.select($"dst".as("src"),
      $"src".as("dst")))
    val (bfs, bfsGrowth) = retained(GraphKernels.bfsHops(bi,
      Seq(1L).toDF("node_id")))
    assert(bfsGrowth.size <= 1, s"bfsHops retained $bfsGrowth")
    assert(bfs.as[(Long, Int)].collect().toMap ==
      (1L to 8L).map(i => i -> (i - 1).toInt).toMap)
    val (lpa, lpaGrowth) = retained(GraphKernels.lpa(bi, maxRounds = 4))
    assert(lpaGrowth.size <= 1, s"lpa retained $lpaGrowth")
    assert(lpa.count() == 8)
    // a 4-clique with a pendant path peels to the clique (its 3-core)
    val clique = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val g = (clique ++ Seq((4L, 5L), (5L, 4L), (5L, 6L), (6L, 5L)))
      .toDF("u", "v")
    val (core, coreGrowth) = retained(GraphKernels.kcore(g, k = 3))
    assert(coreGrowth.size <= 1, s"kcore retained $coreGrowth")
    assert(core.count() == clique.size)
    // K4 plus a two-round truss cascade (ScaleSpec's k-truss input)
    val truss = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L), (5L, 7L), (6L, 7L))
      .toDF("u", "v")
    val ((fix, _), trussGrowth) =
      retained(Materialize.fixpoint(truss, 10)(Scale.trussPeelRound))
    assert(trussGrowth.size <= 1, s"truss fixpoint retained $trussGrowth")
    assert(fix.count() == 6)

    val words = Seq(("banana", 5L), ("bandana", 3L), ("ananas", 2L),
      ("nab", 1L)).toDF("word", "n")
    val ((merges, syms), bpeGrowth) = retained(Bpe.train(words, rounds = 4))
    // merges is a local relation; syms is the final word checkpoint
    assert(bpeGrowth.size <= 1, s"Bpe.train retained $bpeGrowth")
    assert(merges.count() == 4)
    assert(syms.count() == 4)
  }
}
