package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column helpers shared by the extension queries, chosen for exact
  * reproducibility in DuckDB (the driver's correctness oracle). Every
  * primitive here has a value-identical DuckDB formulation, noted inline;
  * the oracle SQL strings are generated from the same constants.
  */
object Portable {

  /** 60-bit portable string hash: first 15 hex digits of md5 as BIGINT.
    * DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT — verified identical.
    * Native codegen expression ([[org.apache.spark.sql.graft.Md5Hash60]]):
    * reads the value straight from the digest bytes instead of
    * materializing the 32-char hex string, substring-copying, and
    * re-parsing hex per row ([[hash60Composed]], kept as the differential
    * oracle). This is the engine-wide shuffle key — every shingle, MinHash
    * input, split/sample assignment, and fingerprint hashes through it. */
  def hash60(c: Column): Column =
    org.apache.spark.sql.graft.GraftExpressions.hash60(c)

  /** Reference composed-Catalyst formulation of [[hash60]] — the
    * differential-test oracle for the native expression. */
  def hash60Composed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DEFLATE-compressed byte length of the UTF-8 text (native codegen
    * expression [[org.apache.spark.sql.graft.DeflateLength]]) — the
    * compression-ratio quality signal. NOT DuckDB-expressible: queries using
    * it take the driver's rows-only check, unlike everything else here. */
  def deflateLen(c: Column): Column =
    org.apache.spark.sql.graft.GraftExpressions.deflateLen(c)

  /** 2^31-1. Reducing hashes mod this keeps a*h+b inside int64 for the
    * MinHash affine family (a, b < 2^31, h < 2^31 → a*h+b < 2^62). */
  val P31: Long = 2147483647L

  /** Whitespace tokenizer; empty text → empty array (bare split would yield
    * [""]). DuckDB: string_split_regex(trim(text), '\s+') with same guard. */
  def tokens(text: Column): Column = {
    val t = trim(text)
    when(t === "", array().cast("array<string>")).otherwise(split(t, "\\s+"))
  }

  /** Distinct word 3-gram shingles of a token array (1-based element_at).
    * DuckDB: list_distinct(list_transform(generate_series(1, len(t)-2),
    * i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])). */
  def shingles3(toks: Column): Column =
    when(size(toks) < 3, array().cast("array<string>")).otherwise(
      array_distinct(transform(sequence(lit(1), size(toks) - 2), i =>
        concat_ws(" ",
          element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))))

  /** Cast a float vector to double so cross-engine arithmetic is exact. */
  def asDouble(vec: Column): Column = transform(vec, _.cast("double"))

  /** Dot product of two double arrays — native codegen Catalyst expression
    * ([[org.apache.spark.sql.graft.DotProductDouble]]); bit-identical to
    * the interpreted HOF formulation [[dotHof]] on equal-length inputs
    * (same left-to-right summation). On unequal lengths the native
    * expression bounds the loop by the shorter array, while zip_with pads
    * with nulls and the HOF sum goes NULL — equal dims is the engine-wide
    * vector contract. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.GraftExpressions.dot(a, b)

  /** Reference HOF dot product (interpreted) — kept as the differential-test
    * oracle for [[dot]] on equal-length vectors. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity rounded to 6 decimals. Rounding BEFORE any ranking /
    * thresholding is the cross-engine determinism contract: float-vector
    * sums may differ in the last ulp between engines, never at 1e-6. */
  def cosine6(a: Column, b: Column, na: Column, nb: Column): Column =
    round(dot(a, b) / (na * nb), 6)
}
