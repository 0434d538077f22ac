package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Hashing._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the query vector
  * against a full scan; at cluster scale this is one pass over the
  * embeddings table with a TakeOrderedAndProject (no global sort, no
  * shuffle of the vectors themselves).
  *
  * Scale path: random-hyperplane LSH buckets — each vector maps to a
  * small signature; a query probes only its own bucket, turning top-k
  * into a pruned scan. Hyperplane weights are derived from hash60 so the
  * whole path stays deterministic and oracle-verifiable.
  *
  * All arithmetic is double-precision sequential folds (zip_with +
  * aggregate), bit-identical to DuckDB's list_transform + list_sum.
  */
object Similarity {

  /** dot(a, b) as a sequential double fold (reference implementation —
    * higher-order functions evaluate interpreted). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column =
    aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** DuckDB fragments of [[dot]], [[norm2]] and [[cosineFold]] over
    * two list expressions, for oracle SQL: double multiply-adds in
    * index order, so both engines produce bit-identical doubles. */
  def sqlDotCols(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  def sqlNorm(c: String): String =
    s"list_sum(list_transform($c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
  def sqlCosCols(a: String, b: String): String =
    s"${sqlDotCols(a, b)} / (sqrt(${sqlNorm(a)}) * sqrt(${sqlNorm(b)}))"

  /** Composed-builtin cosine — kept as the executable spec the native
    * expression is tested against. */
  def cosineFold(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** Native codegen cosine (graft.expressions.CosineSimilarity) —
    * bit-identical to cosineFold, no per-row allocation/boxing. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.expressions.CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Brute-force cosine top-k against one query vector (by id). */
  def bruteForceTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qv"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        cosine(col("embedding"), col("qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Pseudo-random hyperplane weights, one per (plane p, dimension d):
    * uniform in [-1, 1] with 1/1000 resolution, derived from hash60 of
    * "p_d". Precomputed at plan-build time — the weights are constants,
    * so the runtime plan is pure arithmetic (no per-row hashing) and the
    * oracle carries the same values as decimal literals. */
  def planeWeightK(p: Int, d: Int): Int =
    (Hashing.hash60(s"${p}_$d") % 2001).toInt - 1000

  def planeWeights(numPlanes: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dims)((p, d) => planeWeightK(p, d) / 1000.0)

  /** Exact 3-decimal literal for a weight — parses to the identical
    * double in every engine. */
  def sqlPlaneWeights(numPlanes: Int, dims: Int): Array[Array[String]] =
    Array.tabulate(numPlanes, dims)((p, d) =>
      java.math.BigDecimal.valueOf(planeWeightK(p, d).toLong, 3)
        .toPlainString)

  /** LSH bucket id: numPlanes sign bits of hyperplane dot products
    * against the literal weight rows. */
  def lshBucket(embCol: Column, numPlanes: Int, dims: Int): Column = {
    val w = planeWeights(numPlanes, dims)
    val planeBits = (0 until numPlanes).map { p =>
      val wArr = array(w(p).map(lit).toIndexedSeq: _*)
      val planeDot = aggregate(
        zip_with(embCol, wArr, (x, wv) => x.cast("double") * wv),
        lit(0.0), (acc, v) => acc + v)
      when(planeDot > 0, lit(1L << p)).otherwise(0L)
    }
    planeBits.reduce(_ + _)
  }

  /** IVF-style ANN: assign every vector to its nearest of `numCells`
    * coarse centroids (here: the first `numCells` vectors — a
    * deterministic stand-in for trained k-means centroids), then search
    * only the query's cell (nprobe = 1). The inverted-file structure is
    * the partitioning: at scale, `repartition(cell)` + partitioned
    * storage makes a query touch one cell's files. */
  def ivfAssign(emb: DataFrame, numCells: Int): DataFrame = {
    val centroids = emb.filter(col("vec_id") < numCells)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("ccs").desc, col("cid").asc)
    emb.crossJoin(broadcast(centroids))
      .withColumn("ccs", cosine(col("embedding"), col("cemb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("embedding"), col("cid"))
  }

  def ivfTopK(emb: DataFrame, queryId: Long, k: Int,
      numCells: Int): DataFrame = {
    val assigned = ivfAssign(emb, numCells)
    val q = assigned.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qv"), col("cid").as("qcid"))
    assigned.join(broadcast(q), col("cid") === col("qcid"))
      .select(col("vec_id"), col("label"),
        cosine(col("embedding"), col("qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** One Lloyd assignment step (spherical k-means): every vector to its
    * max-cosine centroid, ties to the lowest cid. The centroid set
    * BROADCASTS (K × dims doubles); the scan never shuffles — the
    * per-vector argmax is a WindowGroupLimit-shaped rank over K rows. */
  def kmeansAssign(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cs").desc, col("cid").asc)
    emb.crossJoin(broadcast(centroids))
      .withColumn("cs", cosine(col("embedding"), col("cemb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("embedding"), col("cid"))
  }

  /** Lloyd centroid update, cross-engine exact: each value quantized to
    * an integer micro-unit and summed as longs (order-independent where
    * a double sum is not — the q68 trick); cosine is scale-invariant so
    * the UN-DIVIDED per-dimension sums are the centroid. Shuffles only
    * (cid, dim) partial sums — never vectors. */
  def kmeansUpdate(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("cid"), col("dim"))
      .agg(sum(round(col("v").cast("double") * 1000000.0).cast("long"))
        .as("c"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("dim"), col("c"))))
        .as("pairs"))
      .select(col("cid"),
        transform(col("pairs"), p => p.getField("c").cast("float"))
          .as("cemb"))

  /** IVF search over a TRAINED quantizer with multi-cell probing: the
    * query ranks the K centroids, keeps its `nprobe` nearest cells, and
    * scans only those inverted lists. nprobe is the recall/cost dial —
    * nprobe=K degenerates to brute force, nprobe=1 to q42's shape. At
    * scale the inverted file is `repartition(cid)` + partitioned
    * storage, so a probe touches nprobe cells' files; the centroid
    * table (K × dims) broadcasts everywhere. */
  def ivfProbeTopK(emb: DataFrame, centroids: DataFrame, queryId: Long,
      k: Int, nprobe: Int): DataFrame = {
    val assigned = kmeansAssign(emb, centroids)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qv"))
    val qCells = centroids.crossJoin(broadcast(q))
      .select(col("cid"), cosine(col("cemb"), col("qv")).as("qcs"))
      .orderBy(col("qcs").desc, col("cid").asc)
      .limit(nprobe)
      .select(col("cid"))
    assigned.join(broadcast(qCells), Seq("cid"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        cosine(col("embedding"), col("qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Product quantization ANN (Jégou et al. 2011): the vector splits
    * into M subvectors, each quantized to one of K per-subspace
    * codebook entries, so a 64-dim float vector compresses to M small
    * codes — and query-time ADC (asymmetric distance computation) ranks
    * the whole corpus from an M×K lookup table without touching a
    * single full vector. At 100 TB this is the memory story: the
    * inverted file holds codes (bytes), the codebooks broadcast, and
    * only the final top-k re-rank (not done here) reads real vectors.
    *
    * Everything runs in integer micro-units (round(v·10⁶) longs — the
    * q68/q73 trick): squared-L2 distances are EXACT long sums, argmin
    * tie-breaks on cid, and the centroid update divides as
    * trunc(double(sum)/double(count)) — written identically in both
    * engines; the exact rational sum/count sits ≥1/count away from any
    * integer, so one correctly-rounded IEEE division cannot cross the
    * truncation boundary. Training = fixed init vectors + one Lloyd
    * refinement; codes and the ADC table both use the refined books.
    *
    * Deployed shape (and what this returns): ADC produces a SHORTLIST
    * from codes alone, then only those `shortlist` full vectors are
    * read for an exact re-rank — the standard PQ serving contract
    * (coarse codes can't rank true neighbours at the top-10 grain;
    * measured here: ADC-only recall@10 ≈ 0.2, shortlist+re-rank ≥ 0.5
    * at a 10× prune). Hash-identical to the generated DuckDB oracle
    * (q100).
    */
  /** Shared PQ machinery: micro-unit vectors, subspace split, one-round
    * trained codebooks, per-vector codes, query ADC table. */
  private case class PqModel(qvecs: DataFrame, codes: DataFrame,
      qtab: DataFrame)

  private def pqTrain(emb: DataFrame, queryId: Long, m: Int, subDims: Int,
      initIds: Seq[Long]): PqModel = {
    val qvecs = emb.select(col("vec_id"), expr(
      "transform(embedding, v -> " +
        "cast(round(cast(v AS double) * 1000000.0) AS bigint))").as("qv"))
    val sub = qvecs
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${m - 1}), m -> " +
          s"struct(m AS m, slice(qv, m * $subDims + 1, $subDims) AS sv))"))
        .as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
    val dist = "aggregate(zip_with(sv, cv, (a, b) -> (a - b) * (a - b)), " +
      "0L, (acc, x) -> acc + x)"
    val cidOf = initIds.zipWithIndex
      .map { case (id, j) => s"WHEN $id THEN $j" }.mkString(" ")
    val cent0 = sub.filter(col("vec_id").isInCollection(initIds))
      .select(col("m"), expr(s"CASE vec_id $cidOf END").as("cid"),
        col("sv").as("cv"))
    def assign(cent: DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id"), col("m"))
        .orderBy(col("d").asc, col("cid").asc)
      sub.join(broadcast(cent), Seq("m"))
        .withColumn("d", expr(dist))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("m"), col("cid"), col("sv"))
    }
    val cent1 = assign(cent0)
      .select(col("m"), col("cid"), posexplode(col("sv")).as(Seq("dim", "v")))
      .groupBy(col("m"), col("cid"), col("dim"))
      .agg((sum(col("v")).cast("double") / count(lit(1)))
        .cast("long").as("c"))
      .groupBy(col("m"), col("cid"))
      .agg(array_sort(collect_list(struct(col("dim"), col("c"))))
        .as("pairs"))
      .select(col("m"), col("cid"),
        transform(col("pairs"), p => p.getField("c")).as("cv"))
    val codes = assign(cent1).select(col("vec_id"), col("m"), col("cid"))
    val qtab = sub.filter(col("vec_id") === queryId)
      .join(broadcast(cent1), Seq("m"))
      .select(col("m"), col("cid"), expr(dist).as("qd"))
    PqModel(qvecs, codes, qtab)
  }

  /** ADC shortlist over `codes` + exact re-rank of the survivors. */
  private def adcRerank(model: PqModel, codes: DataFrame, queryId: Long,
      topN: Int, shortlist: Int): DataFrame = {
    val short = codes.join(broadcast(model.qtab), Seq("m", "cid"))
      .groupBy(col("vec_id"))
      .agg(sum(col("qd")).as("adist"))
      .filter(col("vec_id") =!= queryId)
      .orderBy(col("adist").asc, col("vec_id").asc)
      .limit(shortlist)
    val qFull = model.qvecs.filter(col("vec_id") === queryId)
      .select(col("qv").as("qqv"))
    short.join(model.qvecs, Seq("vec_id"))
      .crossJoin(broadcast(qFull))
      .select(col("vec_id"), col("adist"), expr(
        "aggregate(zip_with(qv, qqv, (a, b) -> (a - b) * (a - b)), 0L, " +
          "(acc, x) -> acc + x)").as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(topN)
  }

  def pqTopK(emb: DataFrame, queryId: Long, topN: Int,
      m: Int, subDims: Int, initIds: Seq[Long],
      shortlist: Int = 50): DataFrame = {
    val model = pqTrain(emb, queryId, m, subDims, initIds)
    adcRerank(model, model.codes, queryId, topN, shortlist)
  }

  /** IVF + PQ — the serving composition (FAISS's IVFPQ shape): a coarse
    * quantizer over FULL vectors routes each vector to a cell; the
    * query probes its `nprobe` nearest cells and ADC runs only over
    * those cells' CODES; the exact re-rank reads just the shortlist.
    * At 100 TB the inverted file is partitioned by cell, so a query
    * schedules nprobe partitions of byte codes — everything else is
    * broadcast lookup tables. Coarse centroids here are fixed init
    * vectors (the trained-quantizer story is q73/q74; this query's
    * subject is the serving composition), and all arithmetic stays in
    * exact integer micro-units for oracle hash-parity. */
  def ivfPqTopK(emb: DataFrame, queryId: Long, topN: Int,
      m: Int, subDims: Int, initIds: Seq[Long], coarseIds: Seq[Long],
      nprobe: Int, shortlist: Int = 50): DataFrame = {
    val model = pqTrain(emb, queryId, m, subDims, initIds)
    val fdist = "aggregate(zip_with(qv, ccv, (a, b) -> (a - b) * (a - b))" +
      ", 0L, (acc, x) -> acc + x)"
    val ccidOf = coarseIds.zipWithIndex
      .map { case (id, j) => s"WHEN $id THEN $j" }.mkString(" ")
    val coarse = model.qvecs.filter(col("vec_id").isInCollection(coarseIds))
      .select(expr(s"CASE vec_id $ccidOf END").as("ccid"),
        col("qv").as("ccv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("fd").asc, col("ccid").asc)
    val assigned = model.qvecs.crossJoin(broadcast(coarse))
      .withColumn("fd", expr(fdist))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("ccid"))
    val qCells = model.qvecs.filter(col("vec_id") === queryId)
      .crossJoin(broadcast(coarse))
      .select(col("ccid"), expr(fdist).as("fd"))
      .orderBy(col("fd").asc, col("ccid").asc)
      .limit(nprobe)
      .select(col("ccid"))
    val candCodes = model.codes
      .join(assigned, Seq("vec_id"))
      .join(broadcast(qCells), Seq("ccid"))
      .select(col("vec_id"), col("m"), col("cid"))
    adcRerank(model, candCodes, queryId, topN, shortlist)
  }

  /** Multi-probe LSH (Lv et al. 2007, single-bit probing): the query
    * searches its own bucket PLUS every single-hyperplane-flip
    * neighbor — numPlanes+1 buckets instead of 1. Near-misses (a
    * vector on the other side of exactly one hyperplane) are recovered
    * without growing the table or re-hashing the corpus: the probe set
    * is query-side only, exploded to numPlanes+1 broadcast rows. Each
    * corpus vector lives in exactly one bucket and probe buckets are
    * distinct, so candidates never duplicate. */
  def lshMultiProbeTopK(emb: DataFrame, queryId: Long, k: Int,
      numPlanes: Int, dims: Int): DataFrame = {
    val withBucket = emb.withColumn("bucket",
      lshBucket(col("embedding"), numPlanes, dims))
    val probeCols = col("bucket") +: (0 until numPlanes)
      .map(p => col("bucket").bitwiseXOR(lit(1L << p)))
    val probes = withBucket.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qv"),
        explode(array(probeCols: _*)).as("qbucket"))
    withBucket.join(broadcast(probes), col("bucket") === col("qbucket"))
      .select(col("vec_id"), col("label"),
        cosine(col("embedding"), col("qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** ANN via LSH bucket pruning: top-k by cosine among vectors sharing
    * the query's bucket. Recall < 1 by construction; the candidate scan
    * is |bucket| instead of |table|. */
  def lshTopK(emb: DataFrame, queryId: Long, k: Int,
      numPlanes: Int, dims: Int): DataFrame = {
    val withBucket = emb.withColumn("bucket",
      lshBucket(col("embedding"), numPlanes, dims))
    val q = withBucket.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qv"), col("bucket").as("qbucket"))
    withBucket.join(broadcast(q), col("bucket") === col("qbucket"))
      .select(col("vec_id"), col("label"),
        cosine(col("embedding"), col("qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }
}
