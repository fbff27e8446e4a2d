package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column builders for the training-data-pipeline text operators (dedup,
  * fingerprinting, text stats) plus their DuckDB SQL twins, kept adjacent so
  * Spark plan and oracle stay in lockstep.
  *
  * Determinism contract shared with the oracle:
  *  - tokens = split on a single literal space (the documents table is
  *    single-space separated by construction);
  *  - shingles = DISTINCT word 3-grams joined by single spaces, 1-based
  *    positions 1..n-2 (documents always have ≥3 tokens — min n_chars is 48);
  *  - hash60(s) = first 15 hex chars of md5(s) as a 60-bit BIGINT. md5 hex
  *    is identical in Spark and DuckDB and 60 bits keep the value positive
  *    in a signed 64-bit long, so bit arithmetic (shifts, xor, bit_count)
  *    matches exactly across engines.
  */
object TextFeatures {

  /** Whitespace tokens of a single-space-separated text column. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word 3-gram shingles. */
  def shingles(toksCol: String): Column =
    expr(
      s"""array_distinct(transform(
         |  sequence(1, size($toksCol) - 2),
         |  i -> concat(element_at($toksCol, i), ' ',
         |              element_at($toksCol, i + 1), ' ',
         |              element_at($toksCol, i + 2))))""".stripMargin)

  /** DuckDB twin of [[shingles]] as a list expression over `toks`. */
  def shinglesSql(toks: String): String =
    s"""list_distinct(list_transform(
       |  generate_series(1, len($toks) - 2),
       |  i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2]))""".stripMargin

  /** 60-bit md5-derived hash, reproducible in DuckDB (see [[hash60Sql]]). */
  def hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** DuckDB twin of [[hash60]]. */
  def hash60Sql(s: String): String =
    s"('0x' || substr(md5($s), 1, 15))::BIGINT"

  /** Two independent 48-bit md5-derived words (hex chars 1-12 / 13-24) —
    * together the 96-bit hash behind the wide simhash. Each word stays
    * positive in a signed long, so shifts/xor/bit_count match across
    * engines exactly.
    */
  def hash48a(s: Column): Column =
    conv(substring(md5(s), 1, 12), 16, 10).cast("long")

  def hash48b(s: Column): Column =
    conv(substring(md5(s), 13, 12), 16, 10).cast("long")

  def hash48aSql(s: String): String = s"('0x' || substr(md5($s), 1, 12))::BIGINT"

  def hash48bSql(s: String): String = s"('0x' || substr(md5($s), 13, 12))::BIGINT"

  /** Exact Jaccard similarity of two pre-deduplicated shingle arrays, as the
    * double `|A∩B| / (|A| + |B| - |A∩B|)` — integer sizes, one double
    * division, so the value is bit-identical across engines.
    */
  def jaccard(a: Column, b: Column): Column = {
    val common = size(array_intersect(a, b))
    common.cast("double") / (size(a) + size(b) - common)
  }

  /** MinHash signature: k minimums over permuted shingle hashes.
    * Engine-internal only (the oracle checks LSH output against exact
    * Jaccard, not the signature). Each shingle is string-hashed ONCE with
    * native xxhash64; permutation p then re-hashes the 8-byte value as
    * xxhash64(p, h) — native, seed-independent permutations at a fraction
    * of the cost of re-hashing the string k times. The base-hash array is
    * bound once via a single-element-array lambda so Catalyst's project
    * collapse cannot re-inline the string hashing into every permutation.
    */
  def minhashSignature(shinglesCol: String, numHashes: Int): Column =
    expr(
      s"""transform(
         |  array(transform($shinglesCol, s -> xxhash64(s))),
         |  hs -> transform(sequence(0, ${numHashes - 1}),
         |          p -> array_min(transform(hs, h -> xxhash64(p, h)))))[0]""".stripMargin)

  /** LSH band keys: one xxhash64 per band over `rowsPerBand` consecutive
    * signature entries (banding via slice + hash of the slice). The
    * signature is bound once to a lambda variable so project collapse
    * cannot re-inline the full minhash computation into every band.
    */
  def lshBands(sigCol: String, numBands: Int, rowsPerBand: Int): Column =
    expr(
      s"""transform(
         |  array($sigCol),
         |  sg -> transform(sequence(0, ${numBands - 1}),
         |          b -> xxhash64(b, slice(sg, b * $rowsPerBand + 1, $rowsPerBand))))[0]""".stripMargin)

}
