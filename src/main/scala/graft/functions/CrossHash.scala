package graft.functions

/** Engine-agnostic deterministic hashing, shared by the Spark operators and
  * the DuckDB oracle-SQL generator ([[graft.OracleSqlGen]]).
  *
  * The reference pipelines key their dedup sketches on fast engine-local
  * hashes; for the cross-engine correctness gate we instead standardize on
  * **md5-60**: the first 15 hex characters of the md5 digest, read as a
  * 60-bit unsigned integer. Both engines compute it bit-identically
  * (Spark: `conv(substring(md5(x),1,15),16,10)`; DuckDB:
  * `('0x' || substr(md5(x),1,15))::BIGINT`), and 60 bits keeps every
  * derived product below 2^63 so BIGINT arithmetic never overflows in
  * either engine (Spark 4 runs ANSI mode — overflow would throw, not wrap).
  *
  * MinHash permutations are true multiplicative hashes
  * `h_i(x) = (A_i·x + C_i) mod (2^61 − 1)` with A < 2^29, C < 2^60,
  * computed without overflow via Mersenne folding: writing x = hi·2^32 + lo
  * and A·hi = t1·2^29 + t0, then A·hi·2^32 ≡ t1 + t0·2^32 (mod 2^61 − 1)
  * because 2^61 ≡ 1. Every intermediate stays below 2^63 — BIGINT-safe in
  * both engines. (A split-product family with NO fold — `A·lo + B·hi` —
  * looks similar but never wraps the modulus, so the argmin is nearly
  * constant across permutations and minhash estimates collapse; measured
  * agreement 0.25 on sets with true Jaccard 0.75.) The constants come from
  * a fixed-seed LCG so the oracle SQL inlines the same numbers the Spark
  * expressions use.
  */
object CrossHash {

  /** 2^61 − 1 (Mersenne prime) — modulus of the minhash permutations. */
  val M61: Long = 2305843009213693951L

  // One MessageDigest per thread: `getInstance` allocates (provider lookup
  // + digest state) and the kernels call md5h60 per element — per shingle,
  // per winnow gram, per row. `digest()` leaves the instance reset, so
  // reuse is value-identical.
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** md5-60 of raw bytes: first 15 hex chars of md5 as a 60-bit long.
    * = bytes 0..6 big-endian (56 bits) followed by the high nibble of byte 7.
    */
  def md5h60(bytes: Array[Byte]): Long = {
    val d = md5Local.get().digest(bytes)
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  /** One minhash permutation over a 60-bit input hash: (a·h + c) mod M61,
    * Mersenne-folded (see object scaladoc for the overflow accounting). */
  def perm(h: Long, a: Long, c: Long): Long = {
    val t = a * (h >>> 32)                           // < 2^57
    val folded = (t >>> 29) + ((t & 0x1fffffffL) << 32) // ≡ t·2^32 (mod M61), < 2^61
    (folded + a * (h & 0xffffffffL) + c) % M61       // sum < 3·2^61 < 2^63
  }

  // Fixed-seed 64-bit LCG (Knuth MMIX constants) — constant generation only.
  private def lcg(seed: Long): () => Long = {
    var state = seed
    () => { state = state * 6364136223846793005L + 1442695040888963407L; state }
  }

  /** The k (A, C) permutation pairs: A ∈ [1, 2^29) odd, C ∈ [0, 2^60). */
  def minhashConstants(k: Int): IndexedSeq[(Long, Long)] = {
    val next = lcg(0x5eedbeefcafeL)
    (0 until k).map { _ =>
      val a = (next() >>> 35) | 1L          // 29 bits, odd
      val c = next() >>> 4                  // 60 bits
      (a, c)
    }
  }

  /** MinHash signature of a shingle-hash set: sig(i) = min over h0 of perm_i.
    * Empty input yields all-M61 sentinels (no shingles — nothing can agree).
    */
  def minhashSig(h0: Array[Long], as: Array[Long], cs: Array[Long]): Array[Long] = {
    val k = as.length
    val sig = Array.fill(k)(M61)
    var j = 0
    while (j < h0.length) {
      val h = h0(j)
      var i = 0
      while (i < k) {
        val v = perm(h, as(i), cs(i))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    sig
  }

  /** SimHash fingerprint over token hashes: bit j set iff the sign-vote sum
    * over bit j of the hashes is positive. `bits` ≤ 60 (md5-60 inputs).
    */
  def simhash(h0: Array[Long], bits: Int): Long = {
    val votes = new Array[Int](bits)
    var j = 0
    while (j < h0.length) {
      val h = h0(j)
      var b = 0
      while (b < bits) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      j += 1
    }
    var fp = 0L
    var b = 0
    while (b < bits) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }
}
