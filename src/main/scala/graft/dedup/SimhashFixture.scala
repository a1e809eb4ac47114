package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pinned fixture corpus for the SimHash ORACLE: xxhash64 bit patterns
  * are engine-specific, so the corpus-wide q_simhash_pairs stays
  * rows-only — but the PAIR/HAMMING relation over a fixed fingerprint
  * column is pure integer arithmetic both engines share. The engine's
  * fingerprints for these 10 docs are precomputed once and pinned in
  * [[sh64]] (DedupSpec's drift guard recomputes them from [[docs]]
  * every run), and DuckDB reproduces the pair relation from the same
  * pinned values — the pinned-VALUES oracle pattern applied to simhash.
  *
  * Corpus shape: a 4-doc near-dup cluster (1 ≡ 2 identical, 3 and 4
  * are 1-/2-word edits of 1) plus six unrelated docs. The hamming<=3
  * relation over it is the 5 pairs (1,2) (1,3) (1,4) (2,3) (2,4) —
  * (3,4) sits just past the cutoff, so the oracle exercises hits,
  * near-misses and misses.
  */
object SimhashFixture {

  private val base =
    "the quick brown fox jumps over the lazy dog while the curious cat " +
      "watches from the garden wall and the evening sun sets slowly " +
      "behind the old red barn casting long shadows across the quiet " +
      "meadow where sheep graze peacefully until dusk"

  /** (doc_id, text) — the pinned corpus. */
  val docs: Seq[(Long, String)] = Seq(
    1L -> base,
    2L -> base, // identical twin of 1
    3L -> base.replace("lazy dog", "sleepy dog"), // 1-word edit of 1
    4L -> base.replace("red barn", "grey barn")
      .replace("quiet meadow", "silent meadow"), // 2-word edit of 1
    5L -> ("colorless green ideas sleep furiously under the bright neon " +
      "sign of the all night diner where truckers order coffee and pie " +
      "at three in the morning listening to an old jukebox play songs " +
      "nobody remembers anymore"),
    6L -> ("the stock market rallied sharply on tuesday as investors " +
      "digested stronger than expected earnings reports from several " +
      "large technology companies pushing major indices to fresh record " +
      "highs despite lingering concerns about inflation"),
    7L -> ("preheat the oven to two hundred degrees then whisk together " +
      "flour sugar and cocoa powder before folding in melted butter " +
      "eggs and vanilla extract pour the batter into a greased pan and " +
      "bake for thirty five minutes"),
    8L -> ("rainfall totals across the northern valley exceeded seasonal " +
      "averages for the third consecutive month prompting reservoir " +
      "operators to increase controlled releases downstream while " +
      "farmers welcomed the improved soil moisture outlook"),
    9L -> ("in the second half the visiting side pressed higher up the " +
      "pitch and equalized from a corner before a late penalty sealed a " +
      "dramatic comeback victory that lifted them three points clear at " +
      "the top of the table"),
    10L -> ("quantum error correction encodes a single logical qubit " +
      "across many physical qubits so that local noise can be detected " +
      "and reversed without measuring the protected quantum information " +
      "directly a prerequisite for scalable fault tolerant computation"))

  /** Engine fingerprints for [[docs]] — precomputed by
    * [[Dedup.simhash64]] and PINNED; DedupSpec fails if the engine's
    * simhash ever drifts from these values, which would silently break
    * the DuckDB oracle below.
    */
  val sh64: Seq[(Long, Long)] = Seq(
    1L -> -7879353323057264230L,
    2L -> -7879353323057264230L,
    3L -> -7880479222964106854L,
    4L -> -7879351089674270438L,
    5L -> -4547531859139978728L,
    6L -> -7876879948436218031L,
    7L -> 3810516427173056910L,
    8L -> -5516364193424356810L,
    9L -> -6728121758325217058L,
    10L -> -1281855832185266008L)

  /** `(doc_id, sh64)` VALUES rows for the DuckDB oracle — both columns
    * cast to BIGINT so the oracle schema matches the engine's.
    */
  def valuesSql: String =
    sh64.map { case (id, h) => s"(CAST($id AS BIGINT), CAST($h AS BIGINT))" }
      .mkString(",\n  ")

  /** The fixture corpus as a DataFrame. */
  def df(spark: SparkSession): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }
}
