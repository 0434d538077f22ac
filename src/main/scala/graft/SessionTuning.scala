package graft

import org.apache.spark.sql.SparkSession

/** Scale-adaptive session defaults shared by the runner mains.
  *
  * `spark.sql.shuffle.partitions` was a constant (= core count) tuned
  * for local mode: right for the test SFs, wrong for corpus-sized
  * shuffles (guide §2.2 — partitions should land in the 100 MB-1 GB
  * range, and a 100 TB dedup self-join across 32 partitions is 3 TB a
  * partition). [[shufflePartitions]] derives the INITIAL count from
  * the input directory's size instead: never below the core count
  * (local parallelism), and one partition per ~128 MB of input beyond
  * that, capped defensively. AQE partition coalescing (on by default)
  * shrinks small shuffles back down at runtime, so the derived value
  * is an upper bound on fan-out, not a fixed cost — exactly the
  * "derive from input size, let AQE coalesce" posture the guide
  * prescribes over constants tuned for either local mode or the
  * cluster.
  *
  * At every shipped test SF (sf0.001-sf0.1, the 10× /tmp/sf1 and the
  * 100× probe) the directory is far under cpus×128 MB, so the derived
  * value equals the old constant and bench numbers stay comparable;
  * the derivation only raises the count past ~4 GB of input
  * (cpus=32), i.e. exactly the regime the constant was wrong in.
  */
object SessionTuning {

  /** ~128 MB of (compressed, on-disk) input per initial shuffle
    * partition. Shuffled bytes are not input bytes — joins fan out,
    * projections cut — but input size is the only scale signal known
    * before the session exists, and AQE corrects per-shuffle at
    * runtime. */
  val BytesPerPartition: Long = 128L << 20

  /** Hard cap: beyond 200k initial partitions the M×R shuffle-block
    * count (guide §2.2) and scheduler pressure dominate any sizing
    * win; a job that large should bucket or re-architect instead. */
  val MaxPartitions = 200000

  def shufflePartitions(dir: String, cpus: Int): Int = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) {
        val kids = f.listFiles
        if (kids == null) 0L else kids.map(size).sum
      } else f.length
    val bytes =
      try size(new java.io.File(dir))
      catch { case _: Throwable => 0L }
    math.max(cpus,
      math.min(MaxPartitions.toLong, bytes / BytesPerPartition).toInt)
  }

  /** The one session set-up of the runner mains (Verify, PlanAudit,
    * ExplainDump, ScaleUp): `local[$SPARK_GRAFT_CPUS]` (default: all cores),
    * [[shufflePartitions]] for `sfDir`, UTC, [[GraftExtensions]], UI
    * off, WARN logging. `extraConf` is applied last, so a main can
    * override any of these (PlanAudit turns AQE off). */
  private[graft] def runnerSession(sfDir: String,
      extraConf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        shufflePartitions(sfDir, cpus.toInt).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    val spark = extraConf.foldLeft(builder) { case (b, (k, v)) =>
      b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
