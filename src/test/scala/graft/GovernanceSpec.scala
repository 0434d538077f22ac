package graft

import org.apache.spark.sql.functions._
import graft.queries.Governance

/** Invariants of the governance operators beyond the oracle restatement:
  * which contracts must pass/fail on TPC-H-shaped data, and the bloom
  * filter's no-false-negative guarantee. Runs at sf0.001. */
class GovernanceSpec extends SparkSpec {
  import spark.implicits._

  test("ivm join view: the delta-maintained view equals a direct " +
    "recompute, and the four terms partition the row count") {
    val m = Governance.ivmJoinView(spark, sfDir).collect()
    val o = Tables(spark, sfDir, "orders")
    val l = Tables(spark, sfDir, "lineitem")
    val direct = o.join(l, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        sum(round($"l_extendedprice" * 100).cast("long") *
          (lit(100L) - round($"l_discount" * 100).cast("long")))
          .as("rev_e4"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m.nonEmpty)
    m.foreach { r =>
      val (nd, revd) = direct(r.getAs[String]("o_orderpriority"))
      assert(r.getAs[Long]("n_rows") === nd)
      assert(r.getAs[Long]("rev_e4") === revd)
      assert(r.getAs[Long]("n_base") + r.getAs[Long]("n_da_b") +
        r.getAs[Long]("n_a_db") + r.getAs[Long]("n_da_db") === nd)
      // a maintenance tick on this data must actually exercise the
      // delta legs, not collapse to base-only
      assert(r.getAs[Long]("n_base") > 0L)
    }
    assert(m.map(r => r.getAs[Long]("n_da_b") + r.getAs[Long]("n_a_db") +
      r.getAs[Long]("n_da_db")).sum > 0L)
  }

  test("contract suite: PK/FK/not-null contracts hold, the deliberately " +
    "strict ones report real violations") {
    val r = Governance.contractChecks(spark, sfDir)
      .select($"table_name", $"test", $"n_violations", $"passed")
      .collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getBoolean(3))).toMap
    assert(r.size === 10)
    // genuine integrity of the synthetic warehouse
    assert(r(("orders", "unique")) === ((0L, true)))
    assert(r(("customer", "unique")) === ((0L, true)))
    // synthetic lineitem's l_linenumber is random, not sequenced per
    // order — the combination contract catches it (what data tests
    // are for)
    val (dupCombos, comboPassed) = r(("lineitem", "unique_combination"))
    assert(!comboPassed && dupCombos > 0)
    assert(r(("orders", "not_null")) === ((0L, true)))
    assert(r(("orders", "relationships:customer.c_custkey"))._2)
    assert(r(("lineitem", "relationships:supplier.s_suppkey"))._2)
    // deliberately failing contracts must count real violations
    val (dupOrderkeys, dupPassed) = r(("lineitem", "unique"))
    assert(!dupPassed && dupOrderkeys > 0,
      "multi-line orders must violate the lineitem unique contract")
    // the reversed relationship happens to hold on this warehouse
    // (every customer has at least one order) — consistency is what's
    // asserted, the count is data
    assert(r(("customer", "relationships:orders.o_custkey"))._2)
    assert(!r(("orders", "accepted_values:O,F"))._2,
      "'P' status rows must violate the narrowed enum")
    // passed is derived, never inconsistent
    assert(r.values.forall { case (n, p) => p == (n == 0L) })
  }

  test("snapshot diff classifies exactly the constructed churn") {
    val r = Governance.snapshotDiff(spark, sfDir).cache()
    val byStatus = r.groupBy($"status").count()
      .as[(String, Long)].collect().toMap
    val n = graft.Tables(spark, sfDir, "documents").count()
    // doc_id 0..n-1: every ≡0 (mod 10) removed, ≡1 changed, ≡2 re-added
    def countMod(m: Long) = (0L until n).count(_ % 10 == m).toLong
    assert(byStatus("removed") === countMod(0))
    assert(byStatus("changed") === countMod(1))
    assert(byStatus("added") === countMod(2))
    // changed rows carry both hashes, added/removed exactly one
    assert(r.filter($"status" === "changed" &&
      ($"old_md5".isNull || $"new_md5".isNull)).count() === 0)
    assert(r.filter($"status" === "added" && $"old_md5".isNotNull)
      .count() === 0)
    assert(r.filter($"status" === "removed" && $"new_md5".isNotNull)
      .count() === 0)
    r.unpersist()
  }

  test("bloom prefilter never false-negatives; re-ingests all flagged") {
    val r = Governance.bloomIncrementalDedup(spark, sfDir).cache()
    // exact_dup ⇒ bloom_maybe: a row the exact check would drop must
    // never be passed through by the prefilter
    assert(r.filter($"exact_dup" && !$"bloom_maybe").count() === 0)
    // verbatim re-ingests (doc_id ≥ 100000, < 200000) are exact dups
    val reingests = r.filter($"doc_id" < 200000L)
    assert(reingests.count() > 0)
    assert(reingests.filter(!$"exact_dup").count() === 0)
    // revisions are genuinely new content
    assert(r.filter($"doc_id" >= 200000L && $"exact_dup").count() === 0)
    r.unpersist()
  }

  test("snapshot versioning: time travel reads any pinned version") {
    import graft.sources.Warehouse
    val dir = java.nio.file.Files.createTempDirectory("snap").toString
    val path = s"$dir/tbl"
    def latest(): Seq[(Long, String)] = Warehouse.readSnapshot(spark, path)
      .orderBy($"k").as[(Long, String)].collect().toSeq
    assert(Warehouse.snapshotVersions(spark, path).isEmpty)
    Warehouse.writeSnapshot(spark, path, 1L) { prior =>
      assert(prior.isEmpty)
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    }
    Warehouse.writeSnapshot(spark, path, 2L) { prior =>
      assert(prior.get.count() === 2L, "v2 must build on v1")
      Seq((1L, "a2"), (3L, "c")).toDF("k", "v")
    }
    // a replayed version is a no-op: its frame is never built
    Warehouse.writeSnapshot(spark, path, 2L)(_ =>
      sys.error("a committed version must not be rebuilt"))
    assert(Warehouse.snapshotVersions(spark, path) === Seq(1L, 2L))
    assert(latest() === Seq((1L, "a2"), (3L, "c")), "latest must be v2")
    assert(Warehouse.readSnapshot(spark, path, Some(1L)).orderBy($"k")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")), "time travel to v1")
    intercept[IllegalArgumentException] {
      Warehouse.readSnapshot(spark, path, Some(9L))
    }
    // a crashed attempt at v3 left parquet data but no _SUCCESS marker:
    // readers never see it, and committing v3 replaces it
    Seq((7L, "torn")).toDF("k", "v").write.parquet(s"$path/v=3")
    assert(new java.io.File(s"$path/v=3/_SUCCESS").delete())
    assert(Warehouse.snapshotVersions(spark, path) === Seq(1L, 2L))
    assert(latest() === Seq((1L, "a2"), (3L, "c")), "uncommitted v3 read")
    Warehouse.writeSnapshot(spark, path, 3L)(prior =>
      prior.get.filter($"k" === 3L))
    assert(Warehouse.snapshotVersions(spark, path) === Seq(1L, 2L, 3L))
    assert(latest() === Seq((3L, "c")), "v3 must replace the leftover")
    // retention keeps only the latest committed version
    Warehouse.dropSupersededSnapshots(spark, path)
    assert(Warehouse.snapshotVersions(spark, path) === Seq(3L))
    assert(new java.io.File(path).list().toSet === Set("v=3"))
  }

  test("q226 fingerprint: root folds the source digests, digest " +
    "matches a plain-Scala xor, any edit changes it") {
    val d = graft.queries.Governance.contentFingerprint(spark, sfDir)
      .as[(String, Long, Long)].collect()
    val (root, srcs) = d.partition(_._1 == "__all")
    assert(root.length === 1)
    assert(root.head._3 === srcs.map(_._3).reduce(_ ^ _))
    assert(root.head._2 === srcs.map(_._2).sum)
    val docs = graft.Tables(spark, sfDir, "documents")
      .select($"source", $"doc_id", $"text")
      .as[(String, Long, String)].collect()
    val s0 = srcs.head._1
    val want = docs.filter(_._1 == s0)
      .map(t => graft.functions.Hashing.hash60(s"${t._2}|${t._3}"))
      .reduce(_ ^ _)
    assert(srcs.find(_._1 == s0).get._3 === want)
    // sensitivity: flipping one doc's hash flips the digest
    assert((want ^ 12345L) !== want)
  }

  test("q213 l-diversity: members conserved, diversity bounded by " +
    "class size, verdict consistent") {
    val d = graft.queries.Governance.lDiversity(spark, sfDir).cache()
    val total = d.agg(sum($"class_size")).as[Long].head()
    val nCust = graft.Tables(spark, sfDir, "customer").count()
    assert(total === nCust,
      s"QI classes must partition the $nCust customers, got $total")
    assert(d.filter($"distinct_sensitive" > $"class_size").count() === 0)
    assert(d.filter($"distinct_sensitive" < 1).count() === 0)
    assert(d.filter($"violates_l3" =!=
      ($"distinct_sensitive" < 3)).count() === 0)
    d.unpersist()
  }

  test("mergeUpsert: update wins including NULLs, delete drops, insert lands") {
    import graft.sources.Warehouse
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "v", "x")
    val delta = Seq(
      (1L, null.asInstanceOf[String], 11.0, false), // update: NULL v wins
      (2L, "b2", 20.0, true),                       // delete
      (9L, "new", 90.0, false))                     // insert
      .toDF("k", "v", "x", "is_delete")
    val got = Warehouse.mergeUpsert(target, delta, "k")
      .as[(Long, Option[String], Double)].collect().sortBy(_._1)
    assert(got === Seq((1L, None, 11.0), (3L, Some("c"), 30.0),
      (9L, Some("new"), 90.0)),
      s"merge semantics drifted: ${got.toSeq}")
  }
}
