package graft

import graft.Materialize.TrunkCheckpointOps
import graft.functions.{Bpe, ConnectedComponents, GraphKernels}
import graft.queries.Scale
import java.lang.ref.WeakReference
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The session-trunk seam ([[Materialize.trunk]], [[Materialize.forget]]),
  * checkpoint provenance, the fixpoint driver ([[Materialize.fixpoint]])
  * and the checkpoint drop discipline of the iterative kernels: what
  * stays in block storage or in the seam's maps after a trunk build, a
  * session or a kernel call is exactly what a later reader still
  * needs. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def leaf(df: DataFrame): LogicalRDD =
    df.queryExecution.logical match {
      case lr: LogicalRDD => lr
      case other => fail(s"not a checkpoint leaf: ${other.nodeName}")
    }
  private def rddId(df: DataFrame): Int = leaf(df).rdd.id
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

  // HashStabilitySpec's hostile conf, minus the scan split (no file
  // is read here)
  private def hostileSession(): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "7")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2
  }

  test("a new session builds its own trunk under its own conf; release " +
    "from either session keeps both sessions' trunks") {
    var builds = 0
    def get(s: SparkSession) = Materialize.trunk(s, key("sess", "t")) {
      builds += 1
      s.range(100).toDF("id").groupBy(($"id" % 10).as("k")).count()
    }
    val t1 = get(spark)
    val s2 = hostileSession()
    try {
      val t2 = get(s2)
      assert(builds == 2 && !(t2 eq t1))
      assert(leaf(t2).rdd.getNumPartitions == 7,
        "the new session's trunk was not built under its own conf")
      assert((get(spark) eq t1) && (get(s2) eq t2) && builds == 2)
      for (s <- Seq(spark, s2)) {
        CheckpointHygiene.release(s)
        assert(persistedIds(rddId(t1)) && persistedIds(rddId(t2)),
          "release dropped a live session's trunk")
      }
      assert(t2.count() == 10 && t1.count() == 10)
    } finally Materialize.forget(s2)
  }

  test("forget drops one session's trunk checkpoints and the next " +
    "lookup rebuilds; other sessions' trunks and cache entries stay") {
    var builds = 0
    def get(s: SparkSession) = Materialize.trunk(s, key("forget", "t")) {
      builds += 1
      s.range(40).toDF("id")
    }
    // both sessions persist one plan: one CacheManager entry, shared
    def cached(s: SparkSession) = Materialize.trunk(s, key("forget", "p"),
      _.persist(StorageLevel.MEMORY_AND_DISK))(s.range(30).toDF("id"))
    val (t1, p1) = (get(spark), cached(spark))
    val s2 = hostileSession()
    val t2 = get(s2)
    cached(s2)
    Materialize.forget(s2)
    assert(!persistedIds(rddId(t2)), "a forgotten trunk stayed persisted")
    assert(persistedIds(rddId(t1)) && t1.count() == 40)
    assert(p1.storageLevel != StorageLevel.NONE,
      "forget unpersisted the shared session's cached trunk")
    assert(Materialize.trunk(spark, key("forget", "t"))(fail("rebuilt")) eq t1)
    val t2b = get(s2)
    assert(builds == 3 && !(t2b eq t2) && t2b.count() == 40)
    Materialize.forget(s2)
  }

  test("a checkpoint's provenance dies with its RDD: an unreachable " +
    "frame's upstream chain is collected") {
    // any lookup through lineageOf is a map access; the probe is a
    // checkpoint leaf so the lookup reaches the map
    val probe = spark.range(1).toDF("id").trunkCheckpoint()
      .queryExecution.analyzed
    // a method scope, so no local of either frame outlives it: b's
    // recorded plan holds a's LogicalRDD, the rest is garbage
    def chain(): WeakReference[AnyRef] = {
      val a = spark.range(16).toDF("id").trunkCheckpoint()
      val b = a.select(($"id" + 1).as("id")).trunkCheckpoint()
      assert(Materialize.lineageOf(b.queryExecution.analyzed).nonEmpty)
      new WeakReference[AnyRef](leaf(a).rdd)
    }
    val aRdd = chain()
    CheckpointHygiene.release(spark)
    val deadline = System.nanoTime() + 10_000_000_000L
    while (aRdd.get != null && System.nanoTime() < deadline) {
      System.gc()
      Materialize.lineageOf(probe)
      Thread.sleep(50)
    }
    assert(aRdd.get == null,
      "a dropped checkpoint's RDD is still reachable after 10 s of GC")
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
