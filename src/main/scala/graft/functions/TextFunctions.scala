package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, shingling, MinHash, SimHash, language-ID scoring,
  * quality stats. Everything is built from higher-order array
  * functions on native columns — per-row work with no UDFs, no
  * shuffles, and exact cross-engine reproducibility (token hashes are
  * md5-derived, so any engine computes identical values; the DuckDB
  * oracles in TextQueries mirror these definitions literally).
  */
object TextFunctions {

  /** Modulus for MinHash permutations: the Mersenne prime 2^31-1.
    * Token hashes are < 2^32 and coefficients < 2^31, so a*h+b stays
    * below 2^63 — no overflow in long arithmetic.
    */
  val HashPrime: Long = 2147483647L

  /** Whitespace tokens, empty-safe. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** Deterministic 32-bit token hash: first 8 hex digits of md5 as a
    * long. Portable across engines (md5 is md5 everywhere).
    */
  def tokenHash(t: Column): Column =
    conv(substring(md5(t), 1, 8), 16, 10).cast("long")

  /** n-word shingles joined with single spaces. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (1 to n).map(j => element_at(toks, i + lit(j))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Fixed pseudorandom MinHash coefficients (a odd, 0 < a,b < p) from
    * a deterministic LCG — the same numbers are interpolated into the
    * DuckDB oracle SQL, so both engines run the same hash family.
    */
  def minhashCoeffs(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    var state = seed
    def next(): Long = { state = (state * 6364136223846793005L + 1442695040888963407L); (state >>> 33) % (HashPrime - 1) + 1 }
    Seq.fill(k)((next() | 1L, next()))
  }

  /** Hamming distance between two simhash values. */
  def hamming32(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Stopword profiles for the heuristic language classifier. Kept
    * deliberately small and public-knowledge (the most frequent
    * function words of each language).
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "was", "for", "on", "with"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "en", "un", "por", "con"),
    "fr" -> Seq("le", "les", "des", "et", "une", "dans", "pour", "que", "sur", "au"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"))

  /** Tokens-with-multiplicity matched against a fixed word list. */
  def listHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** Argmax language by stopword hits; ties resolve in declaration
    * order; zero hits everywhere → "unknown".
    */
  def langId(toks: Column): Column = {
    val scores = stopwords.map { case (lang, words) => lang -> listHits(toks, words) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("unknown"): Column) { case ((lang, score), els) =>
      when(score === best && best > 0, lit(lang)).otherwise(els)
    }
  }
}
