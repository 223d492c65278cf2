package graft.core

/** Shared constants for the text-analysis / dedup / similarity operators.
  *
  * Both the Spark implementation and the generated DuckDB oracle SQL are
  * built from these values, so the two sides cannot drift. Everything is
  * deterministic (fixed seeds, fixed lists) because the driver's oracle
  * compare is an exact hash match.
  */
object Consts {

  /** Fixed-point scale for embedding quantization: floor(x * 1e6) as i64.
    * Integer dot products / norms are then exact and order-independent,
    * which makes cosine similarity bit-identical across engines (the only
    * floating ops left — sqrt, multiply, divide — are correctly-rounded
    * IEEE ops on exactly-representable inputs). */
  val QuantScale = 1000000L

  /** MinHash: each shingle is hashed ONCE (md5 -> first 8 hex nibbles
    * -> 32-bit int), then 16 permutations are cheap linear maps
    * h_i(x) = (a_i * x + b_i) mod p over that int — 1 md5 + 16 integer
    * ops per shingle instead of 16 md5s. All integer arithmetic, so
    * Spark and DuckDB agree bit-for-bit.
    * 16 = 4 bands x 4 rows (LSH banding; ~0.5 Jaccard threshold knee). */
  val LshBands = 4
  val LshRowsPerBand = 4
  val MinhashPrime = 2147483647L // 2^31 - 1
  val MinhashParams: Seq[(Long, Long)] = {
    var s = 7L
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; (s >>> 33) }
    Seq.fill(16)(((next() % (MinhashPrime - 1)) + 1, next() % MinhashPrime))
  }

  /** SimHash over token md5s: bit k of a token = high bit of hex nibble k
    * (portable: substring of the hex digest). 16-bit fingerprint. */
  val SimHashBits = 16
  val HexHigh: Seq[String] = Seq("8", "9", "a", "b", "c", "d", "e", "f")

  /** Near-dup / similarity thresholds (picked against the planted dups in
    * the synthetic testdata: ~25 pairs at jaccard >= 0.8 per SF). */
  val MinhashJaccardThreshold = 0.5
  val JaccardPairThreshold = 0.05
  val SimhashMaxHamming = 3

  /** Containment pairs (q83): max direction-wise containment cutoff —
    * high enough that only genuine subset/near-subset relations
    * qualify (the planted near-dup pair sits at ~0.9; random pairs of
    * the tiny synthetic vocabulary stay well under 0.2). */
  val ContainmentThreshold = 0.5

  /** Pigeonhole bands for the simhash pair join: with 4 bands over 16
    * bits, any pair within hamming distance 3 (< number of bands) must
    * agree on at least one whole band, so band equality is a lossless
    * candidate filter. Invariant: SimhashMaxHamming < SimhashBands and
    * SimhashBands divides SimHashBits. */
  val SimhashBands = 4
  val CosineNearDupThreshold = 0.35

  /** Brute-force kNN defaults: first `KnnQueries` vec_ids are the query
    * set, top `KnnK` neighbors each. */
  val KnnQueries = 10
  val KnnK = 5

  /** Stopword list for quality scoring (subset that appears in the
    * synthetic corpus plus common English function words). */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "is", "in", "on", "for")

  /** Language-ID marker tokens, in tie-break priority order: the CASE
    * chain tests languages in this order and first max wins. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "los", "las", "de", "y"),
    "fr" -> Seq("le", "les", "et", "est", "une"),
    "zh" -> Seq("的", "是", "了", "在"))

  /** "BPE-ish" token pattern: letter runs, digit runs, single symbols.
    * Kept to constructs with identical semantics in Java regex (Spark)
    * and RE2 (DuckDB). */
  val BpeTokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Random-hyperplane LSH for embeddings: 8 planes x 64 dims, integer
    * coefficients in [-100, 100] from a seeded LCG (seed 42, mirroring
    * the reference's seeded index build — /root/reference/src/ann.rs:254).
    * Integer projections keep the bucket assignment engine-portable. */
  val LshPlanes = 8
  val EmbeddingDim = 64
  val Hyperplanes: Seq[Seq[Long]] = {
    var s = 42L
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    Seq.fill(LshPlanes)(Seq.fill(EmbeddingDim)(((next() >>> 16) % 201L) - 100L))
  }

  /** RP-forest recall measurement (q80): the chat index's forest shape
    * — 16 trees of sign-split hyperplanes, seed 42
    * (/root/reference/src/ann.rs:252-268) — with integer plane
    * coefficients so leaf assignment is engine-portable, and a FIXED
    * depth of 6 (64 leaves/tree): the DuckDB oracle is a static SQL
    * string, so the measurement forest cannot size its depth from the
    * corpus the way chat.AnnIndex.sampleForest does. Distinct LCG
    * stream from Hyperplanes (different multiplier path via an initial
    * skip) so q20 and q80 don't share their first plane. */
  val ForestTrees = 16
  val ForestDepth = 6
  val ForestPlanes: Seq[Seq[Seq[Long]]] = {
    var s = 43L
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    Seq.fill(ForestTrees)(Seq.fill(ForestDepth)(
      Seq.fill(EmbeddingDim)(((next() >>> 16) % 201L) - 100L)))
  }
}
