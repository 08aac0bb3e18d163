package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization — canonical composition (e + U+0301 → é), the
  * text-pipeline prerequisite for dedup/fingerprinting over multi-source
  * corpora where the same glyph arrives in both composed and decomposed
  * forms and would otherwise hash differently. Spark has no built-in;
  * this is the custom-Expression tier (codegen'd static call, stays inside
  * whole-stage codegen).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NfcNormalize.normalize($c);")

  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
  override def prettyName: String = "nfc_normalize"
}

object NfcNormalize {
  /** Shared by interpreted eval and generated code. Fast path: NFC-check
    * first — already-normalized text (the overwhelming majority) skips the
    * allocation entirely.
    */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Distinct k-char shingle xxhash64 set of the CANONICAL text, one pass —
  * the dedup family's gram front as a single codegen'd expression.
  *
  * Why an Expression and not the composable
  * `transform(shinglesOfCanonical(canonicalText(text)), xxhash64)` form:
  * CollapseProject inlines the canonicalization REGEX into every
  * `substr(ct, i, k)` lambda call site, so the collapsed plan re-runs
  * `regexp_replace` once per shingle position — measured 5.7× slower at
  * sf0.1 (3.65 s vs 0.64 s for 5 000 docs; 16 s on one core
  * inside the ppjoin front). The [[MinHashSig]] scaladoc records the same
  * pathology for the signature tier. Here the canonical form is computed
  * ONCE per row with the exact primitives Spark's own functions use —
  * `UTF8String.trim`/`toLowerCase`, `java.util.regex` for `\s+ → " "`,
  * `XxHash64Function.hashUnsafeBytes` seed 42 — so the output is
  * bit-identical to the composed form (the DuckDB oracles replay the same
  * canonicalization relationally and pin it).
  *
  * Shingle convention (shared with the oracles' gram CTE): positions
  * 1..max(len−k+1, 1) — a text shorter than k contributes its whole
  * (possibly empty) canonical form as its single gram; distinctness keeps
  * first occurrence. Hash-level distinct ≡ string-level distinct up to
  * xxhash64 collisions (~2⁻⁶⁴, the documented trade everywhere hashes
  * stand in for grams).
  */
case class GramShingleHashes(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    GramShingleHashes.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GramShingleHashes.compute($c, $k);")

  override protected def withNewChildInternal(c: Expression): GramShingleHashes =
    copy(child = c)
  override def prettyName: String = "gram_shingle_hashes"
}

object GramShingleHashes {
  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  def compute(text: UTF8String, k: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    // exactly lower(trim(text)) then regexp_replace(\s+, " ") — the same
    // primitives the built-in functions bottom out in
    val lowered = text.trim().toLowerCase
    val canonical = UTF8String.fromString(
      Whitespace.matcher(lowered.toString).replaceAll(" "))
    val n = canonical.numChars()
    val nShingles = math.max(n - k + 1, 1)
    val seen = new java.util.HashSet[java.lang.Long](nShingles * 2)
    val out = new Array[Long](nShingles)
    var w = 0
    var i = 0
    while (i < nShingles) {
      val s = canonical.substring(i, math.min(i + k, n))
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      if (seen.add(h)) { out(w) = h; w += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out, w))
  }
}
