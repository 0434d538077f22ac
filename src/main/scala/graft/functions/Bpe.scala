package graft.functions

import graft.CheckpointHygiene
import graft.Materialize.TrunkCheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction (Sennrich et al. 2016) as a
  * distributed trainer — the step beyond q97's single pair count: each
  * round picks the argmax adjacent symbol pair over the DISTINCT-word
  * table (weighted by corpus counts), collects ONLY that pair to the
  * driver (one row — the driver never sees data), and applies the merge
  * to every word in parallel.
  *
  * Words are kept as space-joined symbol strings ("hello" → "h e l l
  * o"); a merge (a, b) is one codegen'd regexp_replace of " a b(?= )"
  * on the space-padded form — the lookahead keeps the trailing space in
  * the stream so back-to-back occurrences (" a b a b ") merge in one
  * pass, and replacement scanning is left-to-right non-overlapping,
  * which IS greedy BPE order. All symbols come from tokens() ([a-z]+),
  * so pairs never contain regex metacharacters.
  *
  * Pair counts are maintained INCREMENTALLY (r10 VERDICT item 3):
  * merging (a, b) only changes the pair multiset of words that contain
  * " a b ", so each round subtracts the affected words' old pairs and
  * adds their re-segmented pairs instead of re-exploding every word —
  * the full explode+aggregate runs exactly once, at round 0. The
  * per-round delta work is a map-side scan of the word table (the
  * containment filter) plus an explode of only the affected words;
  * weights are exact BIGINT sums, so the argmax sequence (weight desc,
  * pair asc) is bit-identical to the re-derived one.
  *
  * Scale: the word table is Zipf-tiny relative to the corpus (q97's
  * observation), so R merge rounds = R × (one map + one small delta
  * aggregate). State per round is one driver row; lineage is truncated
  * every round (localCheckpoint) so the plan never grows with R. A
  * 100 TB corpus still trains against its ~100M distinct words, not
  * its tokens.
  */
object Bpe {

  /** Adjacent symbol pairs of a space-joined symbol string, one entry
    * per OCCURRENCE ("a b a b" → ["a b", "b a", "a b"]). Guarded for
    * single-symbol words (sequence(1, 0) would step backwards). */
  private def pairsOf(sym: Column): Column = {
    val parts = split(sym, " ")
    when(size(parts) >= 2,
      transform(sequence(lit(1), size(parts) - 1),
        i => concat(element_at(parts, i), lit(" "),
          element_at(parts, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** @param words (word, n): distinct words with corpus counts.
    * @return merge table (round, left, right, merged) in training
    *         order, and the final symbolized words (word, sym, n). */
  def train(words: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val (merges, syms, _) = run(words, rounds, Set.empty)
    (merges, syms)
  }

  /** One training chain observed at several merge budgets: greedy BPE
    * is deterministic, so the b-round vocabulary IS the first b rounds
    * of the max(budgets)-round chain — training once and snapshotting
    * replaces one full re-train per budget (q289's shape). Returns
    * (budget, words-after-budget-merges) in the input budget order;
    * a chain exhausted before a budget yields its final state there,
    * exactly what a separate budget-bounded train would return. */
  def trainSnapshots(words: DataFrame,
      budgets: Seq[Int]): Seq[(Int, DataFrame)] = {
    val (_, fin, snaps) = run(words, budgets.max, budgets.toSet)
    budgets.map(b => b -> snaps.getOrElse(b, fin))
  }

  private def run(words: DataFrame, rounds: Int, snapshotAt: Set[Int])
      : (DataFrame, DataFrame, Map[Int, DataFrame]) = {
    val session = words.sparkSession
    import session.implicits._
    var syms = words
      .select(col("word"), concat_ws(" ", split(col("word"), "")).as("sym"),
        col("n"))
      .trunkCheckpoint()
    // exact pair-occurrence weights over the whole word table — the
    // ONLY full explode of the training run; every later round applies
    // a delta. LAZY checkpoint: the next round's argmax collect folds
    // the materialization into its own job, so a round costs the same
    // TWO jobs as the full-recount form did (an eager pc pin measured
    // as a third job per round — pure overhead at test-SF word-table
    // sizes). The price is a two-generation drop discipline: the lazy
    // frame reads its inputs' checkpoint blocks until it materializes,
    // so the previous round's pc/syms blocks are dropped only AFTER
    // the argmax has run (both generations are vocab-bounded).
    var pc = syms
      .select($"n", explode(pairsOf($"sym")).as("pair"))
      .groupBy($"pair").agg(sum($"n").as("weight"))
      .trunkCheckpoint(eager = false)
    val snaps = scala.collection.mutable.Map.empty[Int, DataFrame]
    val kept = scala.collection.mutable.Set.empty[DataFrame]
    // The new checkpoint is materialized; drop the previous round's
    // blocks so R-round training holds one word-table copy in memory,
    // not R of them (a 30k-merge vocab run would otherwise accumulate
    // 30k cached copies) — unless a snapshot still hands the frame out.
    def drop(prev: DataFrame): Unit =
      if (!kept.contains(prev)) CheckpointHygiene.drop(prev)
    val merges = Seq.newBuilder[(Int, String, String, String)]
    var round = 0
    var exhausted = false
    // generation r-1 frames, droppable only after the NEXT argmax has
    // materialized the lazy pc built from them
    var dropAfterArgmax: Seq[DataFrame] = Nil
    if (snapshotAt.contains(0)) { snaps(0) = syms; kept += syms }
    while (round < rounds && !exhausted) {
      val top = pc.orderBy($"weight".desc, $"pair".asc).limit(1)
        .as[(String, Long)].collect()
      // pc is materialized now; its inputs' blocks are safe to drop
      dropAfterArgmax.foreach(drop)
      dropAfterArgmax = Nil
      if (top.isEmpty) exhausted = true
      else {
        val Array(a, b) = top.head._1.split(" ", 2)
        merges += ((round, a, b, a + b))
        val padded = concat(lit(" "), $"sym", lit(" "))
        val newSym = trim(regexp_replace(padded,
          lit(s" $a $b(?= )"), lit(s" $a$b")))
        // ---- pair-count delta over words that contain the merged
        // pair (the padded containment test matches the regexp's hit
        // set exactly: both demand the literal " a b " run). ONE
        // generator emits the -n old pairs and +n new pairs together,
        // so the delta costs a single scan of the word table, not two.
        val delta = syms.filter(contains(padded, lit(s" $a $b ")))
          .select($"n", explode(concat(
            transform(pairsOf($"sym"),
              p => struct(p.as("pair"), lit(-1L).as("sgn"))),
            transform(pairsOf(newSym),
              p => struct(p.as("pair"), lit(1L).as("sgn"))))).as("d"))
          .select($"d.pair".as("pair"), ($"d.sgn" * $"n").as("w"))
        dropAfterArgmax = Seq(pc, syms)
        pc = pc.select($"pair", $"weight".as("w"))
          .unionByName(delta)
          .groupBy($"pair").agg(sum($"w").as("weight"))
          .filter($"weight" > 0)
          .trunkCheckpoint(eager = false)
        // syms stays EAGER: the new pc's delta reads the OLD syms
        // blocks (kept alive by dropAfterArgmax), and downstream
        // consumers (snapshots, the final encode) need a materialized
        // frame whose lineage does not stack regexp rounds
        syms = syms.withColumn("sym", newSym).trunkCheckpoint()
        round += 1
        if (snapshotAt.contains(round)) { snaps(round) = syms; kept += syms }
      }
    }
    // loop exit: the last generation and the final pc are dead — pc is
    // never returned, and unless exhausted it never even materialized
    dropAfterArgmax.foreach(drop)
    drop(pc)
    (merges.result().toDF("round", "left", "right", "merged"), syms,
      snaps.toMap)
  }
}
