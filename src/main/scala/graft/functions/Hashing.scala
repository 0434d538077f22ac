package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expressions.MinHashLanes

/** Cross-engine deterministic hashing.
  *
  * `xxhash64`/`hash` are Spark-private algorithms; to make sketch-based
  * operators (MinHash, SimHash, LSH) oracle-verifiable we derive a 60-bit
  * hash from md5, which every engine computes identically:
  *   Spark :  conv(substr(md5(x),1,15),16,10)::long
  *   DuckDB: ('0x' || substr(md5(x),1,15))::BIGINT
  * 15 hex digits = 60 bits, always non-negative, fits a signed 64-bit.
  *
  * Perf note: md5 is ~3× slower than xxhash64. No operator takes the
  * hash as a parameter: hash60 is fixed so every sketch operator stays
  * bit-identical to the DuckDB oracle.
  */
object Hashing {
  /** 60-bit portable hash of a string column — the native codegen
    * expression (see expressions.Hash60; bit-identical to
    * `conv(substr(md5(c),1,15),16,10)::long`, parity spec-asserted). */
  def hash60(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.Hash60(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          c.cast("binary"))))

  /** The composed built-in form of hash60 — the reference formulation
    * the native expression must match (kept for the parity spec). */
  def hash60Composed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Seeded variant: family of independent hash functions h_i. */
  def hash60(c: Column, seed: Int): Column =
    hash60(concat(c, lit("|" + seed)))

  /** DuckDB SQL for the same hash — keep in lockstep with hash60. */
  def sqlHash60(expr: String): String =
    s"(('0x' || substr(md5($expr), 1, 15))::BIGINT)"

  def sqlHash60(expr: String, seed: Int): String =
    sqlHash60(s"$expr || '|$seed'")

  /** JVM-side hash60 of a string — same value the column expression
    * produces; used to precompute constants (e.g. LSH plane weights) at
    * plan-build time instead of per row. */
  def hash60(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Affine MinHash lane family over a 31-bit base hash:
    * h_i(x) = (a_i * (h(x) & 0x7FFFFFFF) + b_i) mod p, p = 2^31 - 1.
    * One md5 per element, k multiply-adds — the production-rate version
    * of k independent hashes (64× fewer md5 calls), still portable:
    * products stay under 2^62 so neither engine overflows. The
    * constants are tabulated once in [[graft.expressions.MinHashLanes]]
    * (lanes 0..63). */
  val LaneP: Long = MinHashLanes.P
  val Mask31: Long = MinHashLanes.Mask31

  def laneA(i: Int): Long = MinHashLanes.A(i)
  def laneB(i: Int): Long = MinHashLanes.B(i)

  def lane(h31: Column, i: Int): Column =
    (lit(laneA(i)) * h31 + lit(laneB(i))) % lit(LaneP)

  def sqlLane(h31Expr: String, i: Int): String =
    s"((${laneA(i)} * $h31Expr + ${laneB(i)}) % $LaneP)"
}
