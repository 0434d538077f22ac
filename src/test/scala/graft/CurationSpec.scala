package graft

import org.apache.spark.sql.functions._
import graft.queries.Curation

/** Invariants of the curation operators that the DuckDB oracle restates
  * but doesn't *prove*: structural guarantees (coverage, overlap,
  * contiguity) and the CMS one-sided error bound. Runs at sf0.001. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("chunking covers every token; consecutive chunks overlap by 8") {
    val chunks = Curation.chunk(spark, sfDir).cache()
    // coverage: per doc, max(chunk_start + n_chunk_toks - 1) == n_toks
    val bad = chunks.groupBy($"doc_id", $"n_toks")
      .agg(max($"chunk_start" + $"n_chunk_toks" - 1).as("covered"),
        min($"chunk_start").as("first_start"))
      .filter($"covered" =!= $"n_toks" || $"first_start" =!= 1)
    assert(bad.count() === 0)
    // stride contract: chunk k starts exactly 24 after chunk k-1; all
    // non-final chunks are full-size (so the overlap is 32-24=8 tokens)
    val nonFinal = chunks
      .withColumn("max_id",
        max($"chunk_id").over(org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id")))
      .filter($"chunk_id" < $"max_id")
    assert(nonFinal.filter($"n_chunk_toks" =!= 32).count() === 0)
    assert(chunks.filter($"chunk_start" =!= $"chunk_id" * 24 + 1)
      .count() === 0)
    chunks.unpersist()
  }

  test("CMS estimate is a one-sided upper bound on the exact count") {
    val r = Curation.cmsHeavyHitters(spark, sfDir)
      .select($"word", $"exact_count", $"cms_est").collect()
    assert(r.length === 8)
    r.foreach { row =>
      val (exact, est) = (row.getLong(1), row.getLong(2))
      assert(est >= exact, s"${row.getString(0)}: est $est < exact $exact")
      // with 4 lanes × 64 buckets over a ~30-word vocab the collision
      // inflation stays far below one full heavy word's mass
      assert(est <= exact * 3, s"${row.getString(0)}: est $est implausible")
    }
  }

  test("benchmark docs are fully self-contaminated when probed") {
    // a doc probed against a gram set containing its own grams must
    // report 100% contamination — sanity of the overlap arithmetic:
    // probe the benchmark members through the train path by re-keying
    val sh = Tables(spark, sfDir, "documents")
      .select($"doc_id", graft.functions.TextOps.shingles($"text", 3).as("sh"))
    val benchGrams = sh.filter($"doc_id" % 25 === 0)
      .select(explode($"sh").as("g")).distinct()
    val self = sh.filter($"doc_id" % 25 === 0)
      .select($"doc_id", size($"sh").as("n"), explode($"sh").as("g"))
      .join(benchGrams, Seq("g"))
      .groupBy($"doc_id", $"n").agg(count(lit(1)).as("hit"))
      .filter($"hit" =!= $"n")
    assert(self.count() === 0)
  }

  test("incremental dedup keeps revisions, drops re-ingests") {
    val kept = Curation.incrementalDedup(spark, sfDir)
    // every survivor is a revision (offset 200000); every revision
    // survives (appended text can't collide with any original)
    val ids = kept.select($"doc_id").as[Long].collect()
    assert(ids.nonEmpty)
    assert(ids.forall(_ >= 200000L))
    val nRevisions = Tables(spark, sfDir, "documents")
      .filter($"doc_id" % 3 === 1).count()
    assert(ids.length === nRevisions)
  }

  test("pack offsets are contiguous per source and bins consistent") {
    val p = Curation.packOffsets(spark, sfDir).cache()
    // start_off of each doc == end_off of the previous doc in the
    // same source (gapless concatenation)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id".asc)
    val bad = p.withColumn("prev_end", lag($"end_off", 1, 0L).over(w))
      .filter($"start_off" =!= $"prev_end")
    assert(bad.count() === 0)
    // spans_cut ⇔ the doc crosses a 128 boundary
    val inconsistent = p.filter(
      $"spans_cut" =!= ($"first_bin" < $"last_bin"))
    assert(inconsistent.count() === 0)
    p.unpersist()
  }

  test("unigram surprise: scores sit inside the information-theoretic " +
    "bounds and rank rare-token docs above common-token docs") {
    import org.apache.spark.sql.functions.{explode, lit}
    val scored = Curation.unigramSurprise(spark, sfDir).cache()
    val toks = graft.Tables(spark, sfDir, "documents")
      .select($"doc_id", explode(
        graft.functions.TextOps.tokens($"text")).as("tok"))
    val total = toks.count().toDouble
    val counts = toks.groupBy($"tok").count()
      .as[(String, Long)].collect().toMap
    // per-token surprise is bounded by [rarest-possible, most-common]
    val maxCnt = counts.values.max.toDouble
    val lo = -math.log(maxCnt / total)
    val hi = math.log(total)
    val bad = scored.filter($"mean_surprise" < lo - 1e-6 ||
      $"mean_surprise" > hi + 1e-6)
    assert(bad.count() === 0, "score outside information bounds")
    // ranking: the doc whose tokens are on average rarest must outscore
    // the doc whose tokens are on average most common (independent
    // recomputation in plain scala)
    val perDoc = toks.as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues { ts =>
        ts.map(t => -math.log(counts(t._2) / total)).sum / ts.size
      }.toMap
    val rarest = perDoc.maxBy(_._2)._1
    val commonest = perDoc.minBy(_._2)._1
    val s = scored.select($"doc_id", $"mean_surprise")
      .as[(Long, Double)].collect().toMap
    assert(s(rarest) > s(commonest))
    // engine score matches the scala recomputation to quantization error
    assert(math.abs(s(rarest) - perDoc(rarest)) < 1e-4)
    scored.unpersist()
  }

  test("weighted sample keeps mass proportional to quality and is " +
    "reproducible") {
    import org.apache.spark.sql.functions.{size => asize, _}
    val kept = Curation.weightedSample(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    // reproducible: a second evaluation keeps the identical set
    val again = Curation.weightedSample(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    assert(kept == again)
    // expected kept count = Σ rate over all docs; the hash threshold
    // realizes it without count/sort state (deterministic, so the
    // tolerance guards construction, not randomness)
    val toks = graft.Tables(spark, sfDir, "documents")
      .select($"doc_id", graft.functions.TextOps.tokens($"text").as("toks"))
      .filter(asize($"toks") > 0)
    val sw = Seq("the", "a", "of", "and", "to", "in", "is")
    val rates = toks.select(
        round(asize(filter($"toks", t => t.isInCollection(sw)))
          .cast("double") / asize($"toks").cast("double") * 1000000.0)
          .cast("long").as("r"))
      .as[Long].collect()
    val expected = rates.sum.toDouble / 1000000.0
    assert(kept.size > expected * 0.5 && kept.size < expected * 1.7,
      s"kept ${kept.size} vs expected ≈ $expected")
    // every kept doc had a positive keep-probability
    assert(kept.values.forall(_ > 0))
  }

  test("curation verdict: every rule fires on a real subset, keep is " +
    "their conjunction, and mass is audited not vanished") {
    val v = Curation.curationVerdict(spark, sfDir).cache()
    val n = v.count()
    for (rule <- Seq("too_short", "off_distribution", "low_stopword")) {
      val fired = v.filter(col(rule)).count()
      assert(fired > 0, s"$rule never fires — threshold is decorative")
      assert(fired < n, s"$rule drops everything")
    }
    assert(v.filter($"keep" &&
      ($"too_short" || $"off_distribution" || $"low_stopword"))
      .count() === 0)
    assert(v.filter(!$"keep" && !$"too_short" && !$"off_distribution" &&
      !$"low_stopword").count() === 0, "drops must carry a reason")
    assert(v.filter($"keep").count() > 0)
    v.unpersist()
  }

  test("unigram-LM step matches a plain-Scala Viterbi replay " +
    "piece-for-piece (third formulation after the DP and the oracle's " +
    "path enumeration)") {
    // independent reference: same model, direct JVM implementation
    val words = Tables(spark, sfDir, "documents")
      .select(explode(graft.functions.TextOps.tokens($"text")).as("w"))
      .as[String].collect()
      .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    val counts = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- words; i <- 0 until w.length;
         k <- 1 to 4 if i + k <= w.length)
      counts(w.substring(i, i + k)) =
        counts.getOrElse(w.substring(i, i + k), 0L) + f
    val t = counts.values.sum.toDouble
    val cost = counts.map { case (p, c) =>
      p -> math.round(-math.log(c / t) * 1e6) }
    def viterbi(w: String): Seq[String] = {
      // lexicographic (cost, boundary-mask) minimum, as documented
      val best = Array.fill(w.length + 1)((Long.MaxValue, Long.MaxValue))
      best(0) = (0L, 0L)
      for (j <- 1 to w.length) {
        val cands = for (k <- 1 to math.min(4, j)) yield
          (best(j - k)._1 + cost(w.substring(j - k, j)),
            best(j - k)._2 | (1L << j))
        best(j) = cands.min
      }
      val ends = (1 to w.length).filter(j => (best(w.length)._2 >> j & 1) == 1)
      ends.zip(0 +: ends.init).map { case (e, s) => w.substring(s, e) }
    }
    val refUsed = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- words; p <- viterbi(w))
      refUsed(p) = refUsed.getOrElse(p, 0L) + f
    val got = Curation.unigramLm(spark, sfDir)
      .select($"piece", $"used_count", $"cost_micro")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet === refUsed.keySet)
    refUsed.foreach { case (p, f) =>
      assert(got(p)._1 === f, s"used_count mismatch for piece '$p'")
      assert(got(p)._2 === cost(p), s"cost mismatch for piece '$p'")
    }
  }

  test("BPE trainer matches a plain-Scala reference merge-for-merge") {
    import graft.functions.Bpe
    // reference BPE with the trainer's exact tie-break
    // (weight desc, then "a b" string asc)
    def applyMerge(syms: List[String], a: String, b: String): List[String] =
      syms match {
        case x :: y :: rest if x == a && y == b =>
          (a + b) :: applyMerge(rest, a, b)
        case x :: rest => x :: applyMerge(rest, a, b)
        case Nil => Nil
      }
    def refBpe(words0: Map[String, Long],
        rounds: Int): (Seq[(String, String)], Map[String, List[String]]) = {
      var ws = words0.map { case (w, n) => (w, w.map(_.toString).toList, n) }
      val out = Seq.newBuilder[(String, String)]
      for (_ <- 1 to rounds) {
        val counts = scala.collection.mutable
          .Map[(String, String), Long]().withDefaultValue(0L)
        ws.foreach { case (_, syms, n) =>
          syms.zip(syms.drop(1)).foreach(p => counts(p) += n) }
        if (counts.nonEmpty) {
          val (a, b) = counts.toSeq
            .minBy { case ((x, y), w) => (-w, s"$x $y") }._1
          out += ((a, b))
          ws = ws.map { case (w, syms, n) => (w, applyMerge(syms, a, b), n) }
        }
      }
      (out.result(), ws.map { case (w, syms, _) => (w, syms) }.toMap)
    }
    // back-to-back merge sites ("ababab") are the regex trap the
    // lookahead exists for; "banana" exercises overlap ("an an")
    val fixture = Map("ababab" -> 10L, "banana" -> 7L, "abba" -> 5L,
      "na" -> 3L, "b" -> 2L)
    val (wantMerges, wantSyms) = refBpe(fixture, 6)
    val df = fixture.toSeq.toDF("word", "n")
    val (gotMergesDf, gotSymsDf) = Bpe.train(df, rounds = 6)
    val gotMerges = gotMergesDf.orderBy($"round")
      .select($"left", $"right").as[(String, String)].collect().toSeq
    assert(gotMerges === wantMerges, "merge sequence diverged")
    val gotSyms = gotSymsDf.select($"word", $"sym").as[(String, String)]
      .collect().toMap.map { case (w, s) => (w, s.split(" ").toList) }
    assert(gotSyms === wantSyms, "final segmentation diverged")
    // corpus run: 8 full rounds, every merged symbol grows
    val words = Curation.queries("q98_bpe_train")
    val merges = words(spark, sfDir).collect()
    assert(merges.length === 8)
    assert(merges.forall(_.getAs[String]("merged").length >= 2))
  }

  test("BPE trainer holds memory flat across many rounds " +
    "(per-round checkpoint unpersisted)") {
    import graft.functions.Bpe
    val before = spark.sparkContext.getPersistentRDDs.size
    val df = Seq(("abcdefghijklmnop", 10L), ("ababababab", 7L),
      ("qrstuvwxyz", 5L), ("mnopqrst", 3L)).toDF("word", "n")
    val (merges, syms) = Bpe.train(df, rounds = 20)
    assert(merges.count() > 10, "fixture must survive many rounds")
    syms.count()
    // one live checkpoint (the final syms) is expected; 20 would mean
    // the per-round unpersist regressed. unpersist(blocking = false)
    // is asynchronous, so poll until the block manager settles.
    def grown() = spark.sparkContext.getPersistentRDDs.size - before
    val deadline = System.currentTimeMillis + 15000
    while (grown() > 2 && System.currentTimeMillis < deadline)
      Thread.sleep(200)
    assert(grown() <= 2,
      s"cached RDDs grew by ${grown()}; per-round checkpoints leak")
    syms.unpersist()
  }

  test("q88/q102 broadcast-overflow branch: shuffled probe equals " +
    "broadcast probe, and each plan uses its join") {
    def plans(q: String): (Array[org.apache.spark.sql.Row], String) = {
      val df = Curation.queries(q)(spark, sfDir)
      (df.orderBy($"doc_id").collect(), df.queryExecution.executedPlan.toString)
    }
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(threshold)
    for (q <- Seq("q88_boilerplate_scrub", "q102_dup_spans")) {
      val (bRows, bPlan) = plans(q)
      assert(bPlan.contains("BroadcastHashJoin"),
        s"$q default path should broadcast the dup set")
      spark.conf.set(threshold, "-1")
      try {
        val (sRows, sPlan) = plans(q)
        assert(sPlan.contains("ShuffledHashJoin"),
          s"$q overflow path should shuffle the probe:\n$sPlan")
        assert(sRows === bRows, s"$q rows diverged across join branches")
      } finally spark.conf.set(threshold, prev)
    }
  }

  test("pii scrub finds exactly the planted identifiers") {
    val r = Curation.piiScrub(spark, sfDir)
    // exactly one planted email+phone per doc; url count is 1 except
    // when the synthetic email's domain also matches the url pattern
    // (never: pattern requires the literal 'www.' prefix)
    assert(r.filter($"n_emails" =!= 1).count() === 0)
    assert(r.filter($"n_urls" =!= 1).count() === 0)
    assert(r.filter($"n_phones" =!= 1).count() === 0)
  }

  test("q102: dup spans are maximal, alignment-free, and cross-doc only") {
    val shared = "red orange yellow green blue indigo violet crimson" +
      " amber teal navy olive" // 12 tokens, > gram length 8
    val rep = "mono duo tri tetra penta hexa hepta octo nona deca"
    val docs = Seq(
      // same passage at DIFFERENT offsets (5 vs 2) — q88's aligned
      // blocks would miss this pair entirely
      (0L, s"alpha beta gamma delta epsilon $shared zeta eta theta"),
      (1L, s"one two $shared three four five six"),
      (2L, "unique words only nothing here repeats across documents" +
        " at all whatsoever today"),
      // 10-token passage repeated WITHIN one doc but in no other doc:
      // self-repetition is q45's business, not a cross-doc dup span
      (3L, s"$rep $rep filler ending"))
    val dir = java.nio.file.Files.createTempDirectory("graft-q102")
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val r = Curation.dupSpans(spark, dir.toString)
      .collect().map(x => x.getLong(0) -> x).toMap

    // doc 0: passage at token positions 6..17 → grams 6..10 merge into
    // ONE maximal span of exactly the 12 shared tokens
    assert(r(0L).getAs[Long]("n_spans") === 1L)
    assert(r(0L).getAs[Long]("n_dup_grams") === 5L)
    assert(r(0L).getAs[Long]("dup_tokens") === 12L)
    assert(r(0L).getAs[Long]("max_span_len") === 12L)
    assert(r(0L).getAs[Double]("dup_frac") === 0.6) // 12 of 20 tokens
    // doc 1: same passage, shifted alignment — still one 12-token span
    assert(r(1L).getAs[Long]("n_spans") === 1L)
    assert(r(1L).getAs[Long]("dup_tokens") === 12L)
    // doc 2: unique text, zero everything
    assert(r(2L).getAs[Long]("n_spans") === 0L)
    assert(r(2L).getAs[Double]("dup_frac") === 0.0)
    // doc 3: within-doc repetition only → not a cross-doc span
    assert(r(3L).getAs[Long]("n_spans") === 0L)
  }

  test("q113: corpus encoding equals plain-Scala greedy BPE apply") {
    import graft.functions.{Bpe, TextOps}
    // re-derive the same word table + merges the query uses, then
    // encode each document in plain Scala and compare piece sums
    val toks = graft.Tables(spark, sfDir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .as[(Long, Seq[String])].collect()
    val wordCounts = toks.flatMap(_._2).groupBy(identity)
      .map { case (w, g) => (w, g.length.toLong) }
    val merges = Bpe.train(
        wordCounts.toSeq.toDF("word", "n"), rounds = 8)._1
      .orderBy($"round").select($"left", $"right")
      .as[(String, String)].collect()
    def applyMerge(syms: List[String], a: String, b: String): List[String] =
      syms match {
        case x :: y :: rest if x == a && y == b =>
          (a + b) :: applyMerge(rest, a, b)
        case x :: rest => x :: applyMerge(rest, a, b)
        case Nil => Nil
      }
    val pieceCount = scala.collection.mutable.Map[String, Long]()
    def pieces(w: String): Long = pieceCount.getOrElseUpdate(w, {
      var syms = w.map(_.toString).toList
      merges.foreach { case (a, b) => syms = applyMerge(syms, a, b) }
      syms.length.toLong
    })
    val want = toks.filter(_._2.nonEmpty).map { case (id, ws) =>
      id -> (ws.length.toLong, ws.map(pieces).sum)
    }.toMap
    val got = Curation.bpeEncode(spark, sfDir)
      .select($"doc_id", $"n_words", $"n_pieces")
      .as[(Long, Long, Long)].collect()
      .map { case (id, nw, np) => id -> (nw, np) }.toMap
    assert(got === want, "per-doc (n_words, n_pieces) diverged")
  }

  test("q214 Good-Turing matches a plain-Scala count-of-counts " +
    "re-estimate") {
    val toks = graft.Tables(spark, sfDir, "documents")
      .select($"doc_id", graft.functions.TextOps.tokens($"text")
        .as("toks"))
      .as[(Long, Seq[String])].collect()
    val counts = toks.flatMap { case (_, ws) =>
      ws.sliding(2).filter(_.length == 2).map(_.mkString(" "))
    }.groupBy(identity).map(_._2.length.toLong)
    val nr = counts.groupBy(identity)
      .map { case (r, v) => r -> v.size.toLong }
    val nTokens = counts.sum
    val n1 = counts.count(_ == 1L).toLong
    val want = nr.filter(_._1 <= 10).map { case (r, cnt) =>
      r -> ((r + 1) * 1000000L * nr.getOrElse(r + 1, 0L) / cnt,
        1000000L * n1 / nTokens)
    }
    val got = Curation.goodTuring(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (r, _, rs, p0) => r -> (rs, p0) }.toMap
    assert(got === want, "count-of-counts re-estimate diverged")
  }

  test("q220 rendezvous shards partition the corpus and rebalance " +
    "minimally when a shard is removed") {
    def assign(nShards: Int): Map[Long, Int] = {
      val docs = graft.Tables(spark, sfDir, "documents")
        .select($"doc_id").as[Long].collect()
      docs.map { id =>
        id -> (0 until nShards).maxBy(i =>
          (graft.functions.Hashing.hash60(s"rv|$i|$id"), i))
      }.toMap
    }
    val a8 = assign(8)
    val got = Curation.rendezvousShards(spark, sfDir)
      .select($"shard", $"n_docs").as[(Int, Long)].collect().toMap
    val want = a8.values.groupBy(identity)
      .map { case (s0, v) => s0 -> v.size.toLong }
    assert(got === want, "shard census diverged from Scala rebuild")
    // defining property: dropping shard 7 moves ONLY shard-7 docs
    val a7 = assign(7)
    val moved = a8.collect {
      case (id, s0) if s0 != 7 && a7(id) != s0 => id
    }
    assert(moved.isEmpty,
      s"non-shard-7 docs moved on shrink: ${moved.take(5)}")
  }

  test("q221 vocab overlap: jaccard bounded, intersection bounded by " +
    "both vocabularies") {
    val d = Curation.sourceVocabOverlap(spark, sfDir).cache()
    assert(d.filter($"jaccard_micro" < 0 ||
      $"jaccard_micro" > 1000000).count() === 0)
    assert(d.filter($"inter" > $"v1" || $"inter" > $"v2").count() === 0)
    assert(d.filter($"s1" >= $"s2").count() === 0, "pairs not ordered")
    d.unpersist()
  }

  test("q218 TextRank equals a plain-Scala integer PageRank rebuild") {
    val toks = graft.Tables(spark, sfDir, "documents")
      .select(graft.functions.TextOps.tokens($"text"))
      .as[Seq[String]].collect()
    val e0 = toks.flatMap(ws => ws.sliding(2).collect {
      case Seq(a, b) if a != b => (a, b)
    }).toSet
    val e = e0 ++ e0.map(_.swap)
    val outdeg = e.groupBy(_._1).map { case (w, l) => w -> l.size.toLong }
    val nodes = e.map(_._1).toSeq.sorted
    val n = nodes.size
    val S = 1000000000000L
    val base = (15L * S / 100L) / n
    var rank = nodes.map(_ -> S / n).toMap
    for (_ <- 1 to 2) {
      val contrib = collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      for ((s0, d) <- e)
        contrib(d) += rank(s0) / outdeg(s0)
      rank = nodes.map(w => w -> (base + 85L * contrib(w) / 100L)).toMap
    }
    val want = rank.toSeq.sortBy(t => (-t._2, t._1)).take(20)
    val got = Curation.textrankKeywords(spark, sfDir)
      .as[(String, Long)].collect().toSeq
    assert(got === want, "integer TextRank diverged from rebuild")
  }
}
