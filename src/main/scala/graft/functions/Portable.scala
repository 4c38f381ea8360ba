package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine deterministic primitives shared by the session / LLM-data
  * suites. Every Spark helper has a DuckDB-SQL twin (the `*Sql` builders)
  * so the oracle computes bit-identical values: the correctness gate hashes
  * cell values, so "roughly equal" is not enough.
  *
  * Determinism techniques used here:
  *  - 60-bit portable hash: first 15 hex digits of md5, parsed base-16.
  *    md5 is identical everywhere; 15 hex digits < 2^60 stays positive in
  *    a signed 64-bit value, so modular arithmetic needs no sign care.
  *  - integer-exact similarity: quantize floats to ints so sums/products
  *    are order-independent and exact in IEEE doubles (< 2^53).
  */
object Portable {

  /** Portable 60-bit hash of any value's string form. Spark side. */
  def h64(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** DuckDB twin of [[h64]]. `e` is a SQL expression string. */
  def h64Sql(e: String): String =
    s"CAST(concat('0x', substr(md5(CAST($e AS VARCHAR)), 1, 15)) AS BIGINT)"

  /** Text normalization used before hashing / dedup: lowercase, trim,
    * collapse whitespace runs. */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  def normTextSql(e: String): String =
    s"regexp_replace(lower(trim($e)), '\\s+', ' ', 'g')"

  /** Whitespace tokens of normalized text, DuckDB side; the Spark side
    * splits [[normText]] on " " ([[graft.operators.LlmText.baseFrom]]). */
  def tokensSql(e: String): String = s"string_split(${normTextSql(e)}, ' ')"

  /** Word n-gram shingles over a token array (empty when fewer than n
    * tokens). Spark `slice` is 1-based (start, length); the DuckDB twin
    * uses 1-based inclusive list slicing `l[i:i+n-1]`. */
  def shingles(tok: Column, n: Int): Column =
    when(size(tok) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(tok) - (n - 1)),
        i => array_join(slice(tok, i, lit(n)), " ")))

  /** DuckDB twin of [[shingles]]; `toksE` must be a list expression. */
  def shinglesSql(toksE: String, n: Int): String =
    s"list_transform(generate_series(1, len($toksE) - ${n - 1}), " +
      s"i -> array_to_string(($toksE)[i:i+${n - 2 + 1}], ' '))"
}
