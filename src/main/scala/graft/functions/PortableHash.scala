package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** The cross-engine ("portable") hash family behind the oracled MinHash /
  * SimHash pipelines: every step is either md5 (bit-identical in Spark and
  * DuckDB) or overflow-free integer arithmetic a SQL engine can replay
  * exactly from inlined literal constants.
  *
  *  - base hash: the first 15 hex chars (60 bits) of `md5(utf8(s))` —
  *    Spark `conv(substring(md5(s), 1, 15), 16, 10)`,
  *    DuckDB `('0x' || substr(md5(s), 1, 15))::BIGINT`. 60 bits keeps the
  *    value strictly inside a signed 64-bit integer in both engines.
  *  - permutations: `(a_i * (h mod P) + b_i) mod P` with `P = 2^31 - 1`
  *    (prime). Operands stay < 2^31 so every product is < 2^62 — no
  *    overflow in BIGINT arithmetic, hence no engine-specific wrap
  *    semantics to worry about.
  *  - band buckets: a fold `acc = (acc * M + x) mod P` seeded with
  *    `band + 1` — same overflow-free bound (`acc < P`, `M = 1e6+3`).
  *
  * The `a_i`/`b_i` constants come from a fixed-seed splitmix64 stream so
  * they are index-stable (the first k permutations are the same for every
  * `numHashes >= k`) and can be inlined as literals into oracle SQL.
  *
  * It is the engine's only MinHash/SimHash family: results are replayable
  * by another engine, and the DuckDB correctness oracle checks them
  * end-to-end.
  */
object PortableHash {

  /** 2^31 - 1, prime. All permutation/band arithmetic is mod P. */
  val P: Long = 2147483647L

  /** Band-bucket fold multiplier (small prime, keeps acc*M < 2^62). */
  val M: Long = 1000003L

  private val Seed: Long = 42L

  private def splitmix64Stream(seed: Long): Iterator[Long] = {
    var x = seed
    Iterator.continually {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
  }

  /** Permutation constants (a_i, b_i), index-stable across numHashes.
    * a_i ∈ [1, P-1] (invertible mod prime P), b_i ∈ [0, P-1].
    */
  def perms(numHashes: Int): (Array[Long], Array[Long]) = {
    require(numHashes > 0 && numHashes <= 512,
            s"numHashes must be in (0, 512], got $numHashes")
    val it = splitmix64Stream(Seed)
    val a  = new Array[Long](numHashes)
    val b  = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      a(i) = 1L + Math.floorMod(it.next(), P - 1)
      b(i) = Math.floorMod(it.next(), P)
      i += 1
    }
    (a, b)
  }

  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** First 60 bits of md5(utf8 bytes) as a non-negative long — the first 8
    * digest bytes big-endian, shifted right 4 (= dropping the 16th hex
    * char). Equals `conv(substring(md5(s),1,15),16,10)` in Spark SQL and
    * `('0x'||substr(md5(s),1,15))::BIGINT` in DuckDB; spec-pinned.
    */
  def hash60(s: UTF8String): Long = {
    val d = md5Local.get()
    d.reset()
    val out = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (out(i) & 0xFFL); i += 1 }
    v >>> 4
  }
}
