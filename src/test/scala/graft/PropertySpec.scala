package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Property-based invariants (SURVEY.md §5.3): surrogate-key byte
  * stability against an independent JVM implementation, hash60
  * cross-engine contract, lane-family bounds, jaccard identity.
  * Raw ScalaCheck generators with a fixed seed (the scalatestplus
  * bridge isn't in the offline cache).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def jvmMd5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private val asciiText: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '-', '.', '@')))
      .map(_.mkString.take(200))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("native as-of join equals the in-memory reference on random " +
    "key/time sets") {
    import java.sql.Timestamp
    // small key/time domains force collisions: same-key groups, equal
    // times (tie-break path), keyless probes, empty reference groups
    val row = Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 50L))
    val cases = for (i <- 0 until 8) yield {
      val probes = samples(row, 40).zipWithIndex
        .map { case ((k, t), id) => (k, t, 1000L + id) }
      val refs = samples(row, 40).zipWithIndex
        .map { case ((k, t), id) => (k, t, 2000L + id) }
      (probes, refs)
    }
    for ((probes, refs) <- cases) {
      val pDf = probes.toDF("user_id", "sec", "event_id")
        .select($"user_id", timestamp_seconds($"sec").as("ts"), $"event_id")
      val rDf = refs.toDF("user_id", "sec", "event_id")
        .select($"user_id", timestamp_seconds($"sec").as("ts"), $"event_id")
      val got = graft.functions.AsOfJoin.backwardNative(pDf, rDf,
          Seq("user_id"), "ts", "event_id", Seq("event_id"))
        .select($"event_id", $"asof_event_id")
        .as[(Long, Option[Long])].collect().toMap
      // reference: argmax over (time, tieBreak) among time <= probe time
      val expected = probes.map { case (k, t, id) =>
        val m = refs.filter(r => r._1 == k && r._2 <= t)
        id -> (if (m.isEmpty) None else Some(m.maxBy(r => (r._2, r._3))._3))
      }.toMap
      assert(got == expected, s"mismatch for probes=$probes refs=$refs")
    }
  }

  test("large/small-star CC equals an in-memory union-find on random graphs") {
    // random sparse graphs: mixed chains, cycles, multi-edges, self-loops
    val edgeGen = Gen.zip(Gen.choose(0L, 39L), Gen.choose(0L, 39L))
    for (round <- 0 until 6) {
      val edges = (0 until 30).flatMap(i =>
        edgeGen.apply(Gen.Parameters.default, Seed(round * 100L + i)))
      val nodes = (0L until 45L)
      val expected = UnionFind.minLabels(nodes, edges)
      val got = graft.functions.ConnectedComponents.minLabel(
          nodes.toDF("id"), edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(got === expected, s"round $round edges=$edges")
    }
  }

  test("CC equals union-find on paths longer than any round cap, stars, " +
    "combs and bridged paths (minLabel and incremental)") {
    import graft.functions.ConnectedComponents
    // each graph on its own id range; the adversarial cases for a
    // label-propagation kernel put the min id hundreds of hops from
    // the far end and number the nodes in every order
    val rng = new scala.util.Random(11)
    val graphs = Vector.newBuilder[(String, Seq[Long], Seq[(Long, Long)])]
    var base = 0L
    def add(name: String, n: Int, id: Int => Int,
        edges: Seq[(Int, Int)]): Unit = {
      val b = base
      graphs += ((name, (0 until n).map(b + id(_)),
        edges.map { case (u, v) => (b + id(u), b + id(v)) }))
      base += n
    }
    def path(n: Int) = (0 until n - 1).map(i => (i, i + 1))
    for (n <- Seq(21, 30, 1000)) add(s"ascending path $n", n, identity,
      path(n))
    for (n <- Seq(21, 257)) add(s"descending path $n", n, n - 1 - _,
      path(n))
    for (n <- Seq(30, 257, 1000))
      add(s"permuted path $n", n, rng.shuffle((0 until n).toVector), path(n))
    add("star, hub = min id", 100, identity, (1 until 100).map((0, _)))
    add("star, hub = max id", 100, identity, (0 until 99).map((_, 99)))
    // a 40-node spine with a 5-node tooth under each spine node; the
    // min id is the tip of the last tooth
    val (spine, tooth) = (40, 5)
    def t(s: Int, k: Int) = spine + s * tooth + k
    val comb = path(spine) ++ (0 until spine).flatMap(s =>
      (s, t(s, 0)) +: (0 until tooth - 1).map(k => (t(s, k), t(s, k + 1))))
    add("comb", spine * (tooth + 1), spine * (tooth + 1) - 1 - _, comb)
    // two 400-node paths, the end of one bridged to the middle of the
    // other; the min id is the far end of the second
    add("bridged paths", 800, 799 - _,
      path(400) ++ path(400).map { case (u, v) => (u + 400, v + 400) } :+
        ((399, 600)))
    val all = graphs.result()
    val isolated = (base until base + 4).toVector
    val nodes = all.flatMap(_._2) ++ isolated
    val edges = all.flatMap(_._3)
    val expected = UnionFind.minLabels(nodes, edges)
    def check(kernel: String, got: Array[(Long, Long)]): Unit = {
      val labels = got.toMap
      assert(labels.size == got.length, s"$kernel labels an id twice")
      assert(labels.keySet == expected.keySet, s"$kernel lost or added ids")
      val wrong = all.collect {
        case (name, ids, _) if ids.exists(i => labels(i) != expected(i)) =>
          name
      }
      assert(wrong.isEmpty, s"$kernel is wrong on: ${wrong.mkString(", ")}")
      assert(isolated.forall(i => labels(i) == i))
    }
    check("minLabel", ConnectedComponents.minLabel(nodes.toDF("id"),
      edges.toDF("src", "dst")).as[(Long, Long)].collect())
    // incremental: a random half of the edges, with the ids they touch
    // and two of the isolated nodes, is the old batch
    val (oldEdges, newEdges) = edges.partition(_ => rng.nextBoolean())
    val oldIds = oldEdges.flatMap(e => Seq(e._1, e._2)).toSet ++
      isolated.take(2)
    val oldLabels = ConnectedComponents.minLabel(oldIds.toSeq.toDF("id"),
      oldEdges.toDF("src", "dst"))
    check("incremental", ConnectedComponents.incremental(oldLabels,
        nodes.filterNot(oldIds).toDF("id"), newEdges.toDF("src", "dst"))
      .as[(Long, Long)].collect())
  }

  test("degree-ordered triangle count equals brute force on random " +
    "co-purchase sets") {
    // random (order, part) bipartite memberships → co-purchase graph;
    // hub orders create high-degree nodes, the case the orientation
    // is for. Reference: brute-force triple scan over the edge set.
    val rowGen = Gen.zip(Gen.choose(0L, 19L), Gen.choose(100L, 124L))
    for (round <- 0 until 4) {
      val io = (0 until 60).flatMap(i =>
        rowGen.apply(Gen.Parameters.default, Seed(round * 1000L + i)))
        .distinct
      val edges = (for {
        (o1, p1) <- io; (o2, p2) <- io
        if o1 == o2 && p1 < p2
      } yield (p1, p2)).toSet
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val expected = (for {
        a <- nodes; b <- nodes if a < b; c <- nodes if b < c
        if edges((a, b)) && edges((b, c)) && edges((a, c))
      } yield 1).size.toLong
      val dir = java.nio.file.Files.createTempDirectory(s"graft-tri$round")
      io.toDF("l_orderkey", "l_partkey").write.mode("overwrite")
        .parquet(s"$dir/lineitem.parquet")
      val got = graft.queries.Scale.triangles(spark, dir.toString)
        .select($"n_triangles").as[Long].head()
      assert(got === expected, s"round $round: $got vs $expected")
    }
  }

  test("band join equals the all-pairs reference on random timestamps, " +
    "including bucket boundaries") {
    // times quantized to whole seconds around the band width so exact
    // boundary hits (|Δ| == band) occur frequently
    val bandUs = 5L * 1000000L
    val t = Gen.choose(0L, 40L)
    for (c <- 0 until 6) {
      val ls = samples(t, 25).zipWithIndex
        .map { case (sec, i) => (sec * 1000000L, 100L + i) }
      val rs = samples(Gen.zip(t, t).map(_._2), 25).zipWithIndex
        .map { case (sec, i) => (sec * 1000000L, 200L + i) }
      val lDf = ls.toDF("lus", "l_id")
        .select(timestamp_micros($"lus").as("l_ts"), $"l_id")
      val rDf = rs.toDF("rus", "r_id")
        .select(timestamp_micros($"rus").as("r_ts"), $"r_id")
      val got = graft.functions.RangeJoin
        .pairsWithinBand(lDf, "l_ts", rDf, "r_ts", bandUs)
        .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
      val expected = (for {
        (lt, li) <- ls; (rt, ri) <- rs
        if math.abs(lt - rt) <= bandUs
      } yield (li, ri)).toSet
      assert(got == expected,
        s"case $c: missing ${expected -- got}, extra ${got -- expected}")
    }
  }

  test("WordNgrams (both modes) is bit-identical to the composed " +
    "HOF forms across random token arrays, all codegen paths") {
    import graft.functions.TextOps
    // random token arrays incl. empty, shorter-than-n, duplicates and
    // null elements (concat_ws skips nulls; distinct is first-occurrence)
    val tokGen: Gen[Seq[String]] = Gen.chooseNum(0, 12).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "b", "ab", "xyz", "q", "zz")))
    val rows = samples(tokGen, 60).map(s => Tuple1(s)) :+
      Tuple1(Seq.empty[String])
    val df = rows.toDF("toks")
      // plant nulls deterministically in some arrays
      .withColumn("toks", transform($"toks",
        w => when(w === "zz", lit(null)).otherwise(w)))
      .cache()
    for (n <- Seq(1, 2, 3, 8)) {
      val composedSet = array_distinct(transform(
        sequence(lit(1), greatest(size($"toks") - (n - 1), lit(1))),
        i => concat_ws(" ", slice($"toks", i, lit(n)))))
      val composedStrict = transform(
        when(size($"toks") >= n, sequence(lit(1), size($"toks") - (n - 1)))
          .otherwise(array().cast("array<int>")),
        i => concat_ws(" ", slice($"toks", i, lit(n))))
      val diff = df.select(
        TextOps.shinglesFromTokens($"toks", n).as("nat_set"),
        composedSet.as("ref_set"),
        TextOps.slidingNgrams($"toks", n).as("nat_strict"),
        composedStrict.as("ref_strict"))
        .filter($"nat_set" =!= $"ref_set" ||
          $"nat_strict" =!= $"ref_strict")
      assert(diff.count() === 0, s"n=$n diverged")
      // interpreted path (eval) must agree with the codegen'd column:
      val interp = df.collect().map { r =>
        val a = new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Option(r.getSeq[String](0)).getOrElse(Seq.empty).map(s =>
            if (s == null) null
            else org.apache.spark.unsafe.types.UTF8String.fromString(s))
            .toArray[Any])
        graft.expressions.WordNgrams(
          org.apache.spark.sql.catalyst.expressions.Literal(a,
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType)),
          n, distinct = true, padShort = true)
          .eval(null).asInstanceOf[
            org.apache.spark.sql.catalyst.util.ArrayData]
          .toArray[org.apache.spark.unsafe.types.UTF8String](
            org.apache.spark.sql.types.StringType).map(_.toString).toSeq
      }
      val viaDf = df.select(TextOps.shinglesFromTokens($"toks", n))
        .collect().map(_.getSeq[String](0))
      assert(interp.zip(viaDf).forall { case (x, y) => x == y },
        s"n=$n eval/codegen diverged")
    }
    df.unpersist()
  }

  test("surrogate key matches the dbt_utils recipe for arbitrary inputs") {
    val pairs = samples(Gen.zip(asciiText, asciiText), 40)
    val df = pairs.flatMap { case (a, b) =>
      Seq((Option(a), Option(b)), (Option.empty[String], Option(b)))
    }.toDF("x", "y")
      .select($"x", $"y",
        graft.news.NewsTransform.surrogateKey($"x", $"y").as("k"))
    val sentinel = "_dbt_utils_surrogate_key_null_"
    df.collect().foreach { r =>
      val a = Option(r.getString(0)).getOrElse(sentinel)
      val b = Option(r.getString(1)).getOrElse(sentinel)
      assert(r.getString(2) == jvmMd5(s"$a-$b"))
    }
  }

  test("column hash60 equals JVM hash60 for arbitrary strings") {
    val ss = samples(asciiText, 60).filter(_.nonEmpty).distinct
    val got = ss.toDF("x")
      .select($"x", Hashing.hash60($"x").as("h"))
      .as[(String, Long)].collect().toMap
    ss.foreach { s =>
      assert(got(s) == Hashing.hash60(s))
      assert(got(s) >= 0L)
    }
  }

  test("minhash lanes stay in [0, p) for the full h31 domain edges") {
    val hs = samples(Gen.choose(0L, Hashing.Mask31), 50) ++
      Seq(0L, 1L, Hashing.Mask31)
    for (h <- hs; i <- 0 until 64) {
      val v = (Hashing.laneA(i) * h + Hashing.laneB(i)) % Hashing.LaneP
      assert(v >= 0 && v < Hashing.LaneP, s"lane $i out of range for $h")
    }
  }

  test("jaccard is 1 for identical sets and within [0,1] generally") {
    val sets = samples(Gen.nonEmptyListOf(
      Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString)), 20)
    val df = sets.map(ws => (ws.distinct, ws.distinct.reverse))
      .toDF("a", "b")
      .select(graft.functions.Dedup.jaccard($"a", $"b").as("j"))
    df.as[Double].collect().foreach(j =>
      assert(math.abs(j - 1.0) < 1e-12, "order must not matter"))
  }

  test("chunking reconstructs the token stream for arbitrary documents") {
    // for any token list: chunk k covers tokens [k*24+1, k*24+32]; the
    // union of chunks covers 1..n exactly, and de-chunking (first 24 of
    // every chunk + the full final chunk) rebuilds the original
    val words = org.scalacheck.Gen.listOfN(
      org.scalacheck.Gen.choose(1, 90).sample.getOrElse(30),
      org.scalacheck.Gen.identifier.map(_.take(6).toLowerCase))
    val docs = samples(words, 30).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.filter(_.nonEmpty).mkString(" ")) }
      .filter(_._2.nonEmpty)
    val df = docs.toDF("doc_id", "text")
    val chunks = df.select($"doc_id",
        graft.functions.TextOps.tokens($"text").as("toks"))
      .select($"doc_id", size($"toks").as("n_toks"), $"toks",
        explode(sequence(lit(0),
          (greatest(ceil((size($"toks") - 32).cast("double") / 24.0),
            lit(0L)) + 1L).cast("int") - 1)).as("chunk_id"))
      .select($"doc_id", $"n_toks", $"chunk_id",
        slice($"toks", $"chunk_id" * 24 + 1, lit(32)).as("chunk"))
      .collect()
    val byDoc = chunks.groupBy(_.getLong(0))
    byDoc.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(2))
      val n = sorted.head.getInt(1)
      val rebuilt = sorted.init.flatMap(
        _.getSeq[String](3).take(24)) ++ sorted.last.getSeq[String](3)
      assert(rebuilt.length === n, "token coverage")
      // every chunk except the last is full-width or the doc is short
      sorted.init.foreach(r => assert(r.getSeq[String](3).length === 32))
    }
  }

  test("sorted_intersect_count equals size(array_intersect) on random " +
    "sorted distinct arrays, codegen and interpreted") {
    val gen = Gen.listOf(Gen.chooseNum(-1000L, 1000L))
    // duplicates deliberately KEPT: the merge must skip runs so its
    // count stays set-semantic like array_intersect (the property the
    // optimizer rewrite relies on)
    val rows = (0 until 200).map { i =>
      val a = gen(Gen.Parameters.default, Seed(i * 2)).get.sorted
      val b = gen(Gen.Parameters.default, Seed(i * 2 + 1)).get.sorted
      (a, b)
    }
    val df = rows.toDF("a", "b")
    val native = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.SortedIntersectCount(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression($"a"),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression($"b")))
    val got = df.select(native.as("n"),
        size(array_intersect($"a", $"b")).as("want"))
      .as[(Int, Int)].collect()
    got.foreach { case (n, want) => assert(n === want) }
    // interpreted path (no codegen) must agree too
    val expr = graft.expressions.SortedIntersectCount(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression($"a"),
      org.apache.spark.sql.graftbridge.ColumnBridge.expression($"b"))
    rows.take(50).foreach { case (a, b) =>
      val r = expr.nullSafeEval(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a.toArray),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b.toArray))
      assert(r === a.toSet.intersect(b.toSet).size)
    }
    // SQL registration round-trips
    df.limit(5).createOrReplaceTempView("sic_probe")
    val viaSql = spark.sql(
      "SELECT sorted_intersect_count(a, b) = size(array_intersect(a, b))" +
        " AS ok FROM sic_probe").as[Boolean].collect()
    assert(viaSql.forall(identity))
  }
}
