package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text-analysis column builders. Everything here is a
  * composition of codegen'd built-ins (no UDFs) so whole-stage codegen
  * keeps the hot path fused — at 100 TB these run once per document in
  * the scan pipeline.
  *
  * Token semantics are pinned to the oracle dialect: DuckDB
  * `string_split_regex(lower(trim(text)), '\s+')` ==
  * Spark `split(lower(trim(text)), "\\s+")` (trimmed input → no empty
  * leading/trailing tokens).
  */
object TextFunctions {

  /** Lowercased whitespace-delimited tokens. */
  def tokens(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** Distinct token set (for Jaccard / MinHash). */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** Distinct token set SORTED ascending — the representation the
    * native verify kernel ([[jaccardSorted]]) requires. The sort runs
    * once per document and is amortized over every candidate pair the
    * document lands in; set semantics (and therefore every Jaccard /
    * containment value) are order-invariant. */
  def tokenSetSorted(text: Column): Column = array_sort(tokenSet(text))

  /** Whitespace-normalized lowercase text (for exact-dedup keys). */
  def normText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Distinct word n-gram shingles over an ALREADY-BOUND token-array
    * column (an attribute, not an expression tree): the `toks`
    * reference inside the transform lambda is re-evaluated once per
    * sequence element, so passing the raw `split(...)` expression here
    * re-runs the regex split per element — quadratic per doc (the same
    * trap topBigrams documents; cost measured 3.7 s → 0.4 s on the
    * decontam trigram query at sf0.1). Callers bind:
    * `df.select(tokens(col("text")).as("toks"))` then shingle. */
  def shinglesOfTokens(toks: Column, n: Int): Column =
    if (n == 1) array_distinct(toks) // unigram shingles ARE the token set
    else array_distinct(
      transform(sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** Convenience spelling over raw text — fine in tests and one-off
    * expressions; hot paths must pre-bind tokens (see shinglesOfTokens). */
  def wordShingles(text: Column, n: Int): Column =
    shinglesOfTokens(tokens(text), n)

  /** Exact Jaccard similarity of two arrays that are each SORTED
    * ascending with distinct elements (build them with
    * [[tokenSetSorted]] / `array_sort(shinglesOfTokens(...))`); NULL
    * for two empty sets (try_divide — callers may pass pre-tokenized
    * empties). The intersection size comes from the allocation-free
    * two-pointer kernel ([[graft.functions.SortedIntersectSize]])
    * instead of `array_intersect`'s per-pair hash set + discarded
    * result array. This is the per-candidate-pair verify kernel of the
    * dedup family; SetOpsSpec pins value parity with the
    * `array_intersect` spelling. */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = graft.functions.SetOps.sortedIntersectSize(a, b).cast("double")
    element_at(
      transform(array(inter),
        i => try_divide(i, size(a) + size(b) - i)),
      1)
  }

  /** MinHash signature: k minimum hashes over the shingle set. Hash
    * family i = xxhash64(shingle || "#i") — one codegen'd expression
    * per row, no UDF, no shuffle. */
  def minhashSignature(shingles: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(shingles, s => xxhash64(concat(s, lit(s"#$i")))))
    }: _*)

  /** LSH band keys: the signature split into `bandCount` bands of
    * `rowsPerBand` hashes, each band collapsed to one 64-bit key.
    * Near-dup docs agree on at least one band key w.h.p. */
  def lshBands(sig: Column, bandCount: Int, rowsPerBand: Int): Column =
    array((0 until bandCount).map { j =>
      xxhash64(concat_ws("|",
        transform(slice(sig, j * rowsPerBand + 1, rowsPerBand),
          h => h.cast("string"))))
    }: _*)

  /** 64-bit SimHash over the token multiset, entirely in codegen'd
    * higher-order functions: fold token hashes into 64 signed bit
    * counters, then collapse counter signs into one long. */
  def simhashCounters(toks: Column): Column =
    aggregate(
      transform(toks, t => xxhash64(t)),
      array_repeat(lit(0L), 64),
      (acc, h) => array((0 until 64).map { b =>
        element_at(acc, b + 1) +
          when(shiftright(h, b).bitwiseAND(1) === 1, lit(1L)).otherwise(lit(-1L))
      }: _*))

  /** Collapse the 64 counters into the SimHash word. */
  def simhashFromCounters(counters: Column): Column =
    (0 until 64).map { b =>
      when(element_at(counters, b + 1) > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Hamming distance between two 64-bit words. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Karp-Rabin-style rolling fingerprint over token lengths, modular
    * so both engines stay in exact int64 arithmetic:
    * fold(0, (acc, len) => (acc*31 + len) mod 1e9+7). */
  def rollingFingerprint(toks: Column): Column =
    aggregate(
      transform(toks, t => length(t).cast("long")),
      lit(0L),
      (acc, x) => (acc * 31L + x) % 1000000007L)
}
