package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII detection and redaction over a text column — the scrubbing
  * stage every large-scale training pipeline runs before anything else
  * sees the crawl (C4 removes lines with "bad words" + policy pages,
  * Dolma and FineWeb mask emails / phone numbers / IP addresses with
  * placeholder tokens). flox has no text surface; this extends the
  * pipeline family (SURVEY §2 beyond-reference ops) the same way the
  * quality/langid kernels do.
  *
  * Engine contract:
  *  - Codegen'd fused kernels ([[graft.functions.PiiCountsExpr]] /
  *    [[graft.functions.PiiRedactExpr]]): ONE String conversion per
  *    row for all category counts (find() loops — no match-array
  *    materialization) and one for the ordered redaction chain —
  *    map-only, zero shuffle, streaming-safe (stateless projection:
  *    the same calls work unchanged on a readStream DF). The
  *    `regexp_extract_all`/`regexp_replace` formulations they fuse
  *    are kept as the spec-pinned reference law ([[count]]).
  *  - The pattern set is deliberately restricted to the regex subset on
  *    which java.util.regex (Spark) and RE2 (DuckDB oracle) agree:
  *    character classes, bounded repetition, non-capturing groups,
  *    leftmost-first alternation and ASCII word boundaries — no
  *    backreferences, no lookaround (RE2 has none), so a certified
  *    query can assert cross-engine parity.
  *  - Redaction order is load-bearing: EMAIL first (its local part may
  *    contain dots/digits/quotes that later patterns could shred),
  *    then CARD (16 digits would otherwise partially match PHONE),
  *    SSN, IPV6 (hex groups are colon-joined — disjoint from every
  *    dotted/dashed pattern, but before IPV4 so "::ffff:" prefixes
  *    aren't half-shredded), IPV4 (dotted quads overlap dotted PHONE
  *    prefixes), PHONE last. Counts are always measured on the
  *    ORIGINAL text, so they are order-independent (spec-asserted).
  *
  * Coverage notes (documented subset, not exhaustive PII detection):
  * emails cover dot-atom and quoted local parts ("a b"@host); phones
  * cover NANP dashed/dotted forms, parenthesized area codes, and a +1
  * country prefix — not bare 10-digit runs or other country codes;
  * IPv6 covers the full 8-group form and single-`::` compressions with
  * at least one group on each side ("fe80::1") or a trailing `::`
  * after ≥2 groups ("2001:db8::") — not bare "::1" (no word boundary
  * exists before ':') or IPv4-mapped tails (the dotted tail redacts as
  * IPV4).
  */
object Pii {

  /** One PII category: stable name, regex (Java == RE2 subset), mask token. */
  final case class Category(name: String, re: String, token: String)

  val Email = Category("email",
    "(?:[A-Za-z0-9._%+-]+|\"[^\"\\r\\n]{1,64}\")@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "<EMAIL>")
  val Card  = Category("card",  "\\b\\d{4}(?:[- ]\\d{4}){3}\\b",                   "<CARD>")
  val Ssn   = Category("ssn",   "\\b\\d{3}-\\d{2}-\\d{4}\\b",                      "<SSN>")
  val Ipv6  = Category("ipv6",
    "\\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\\b" +
      "|\\b(?:[0-9A-Fa-f]{1,4}:){1,6}(?::[0-9A-Fa-f]{1,4}){1,6}\\b" +
      "|\\b(?:[0-9A-Fa-f]{1,4}:){2,7}:",
    "<IPV6>")
  val Ipv4  = Category("ip",    "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b",                "<IP>")
  val Phone = Category("phone",
    "(?:\\+1[-. ]?)?\\(\\d{3}\\)[-. ]?\\d{3}[-.]\\d{4}\\b" +
      "|\\+1[-. ]?\\d{3}[-.]\\d{3}[-.]\\d{4}\\b" +
      "|\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b",
    "<PHONE>")

  /** Default categories in redaction order (see class doc — the order
    * is a correctness contract, not a style choice). */
  val defaults: Seq[Category] = Seq(Email, Card, Ssn, Ipv6, Ipv4, Phone)

  /** Number of matches of `cat` in `text` (on the raw text). The
    * reference formulation — [[counts]] computes every category in one
    * fused pass; PropertySpec pins the two equal. */
  def count(text: Column, cat: Category): Column =
    size(regexp_extract_all(text, lit(cat.re), lit(0))).cast("long")

  /** All match counts as ONE array<long> in category order: a single
    * codegen'd pass over one String conversion
    * ([[graft.functions.PiiCountsExpr]]) — replaces a
    * `size(regexp_extract_all(...))` per category, each of which
    * re-converted the string and materialized its match array. */
  def countsVec(text: Column, cats: Seq[Category] = defaults): Column =
    graft.functions.VectorExprs.piiCounts(text, cats.map(_.re))

  /** All category counts as named columns `n_<cat>` (one fused pass;
    * Catalyst's subexpression elimination evaluates the shared
    * [[countsVec]] once per row). */
  def counts(text: Column, cats: Seq[Category] = defaults): Seq[Column] = {
    val v = countsVec(text, cats)
    cats.zipWithIndex.map { case (c, i) =>
      element_at(v, i + 1).as(s"n_${c.name}") }
  }

  /** `text` with every category match replaced by its mask token,
    * applied in the declared order — one fused pass
    * ([[graft.functions.PiiRedactExpr]]); the chained `regexp_replace`
    * fold it replaces is pinned equal in PropertySpec. */
  def redact(text: Column, cats: Seq[Category] = defaults): Column =
    graft.functions.VectorExprs.piiRedact(text,
      cats.map(_.re), cats.map(_.token))

  /** Per-document scrub report: input columns + `n_<cat>` counts +
    * `n_pii` total + `redacted` text. Map-only; survives on streams. */
  def scrub(df: DataFrame, textCol: String,
            cats: Seq[Category] = defaults): DataFrame = {
    val t = col(textCol)
    val v = countsVec(t, cats)
    val total = cats.indices.map(i => element_at(v, i + 1)).reduce(_ + _)
    df.select(
      (df.columns.map(col).toSeq ++ counts(t, cats) :+
        total.as("n_pii") :+
        redact(t, cats).as("redacted")): _*)
  }

  /** NECESSARY-condition prefilter for the [[defaults]] categories: a
    * text failing this test cannot contain any default-category match
    * (email ⇒ '@'; ipv6 ⇒ ':'; card/ssn/ipv4/phone each ⇒ at least
    * two digits — every branch of every pattern), so gating the fused
    * kernels on it is EXACT, not approximate (PropertySpec law:
    * [[scrubSparse]] ≡ [[scrub]] on any corpus). Three cheap scans
    * (two contains + one two-digit rlike) versus six-pattern find
    * loops: on a real crawl where PII incidence is low this collapses
    * the per-row cost to the prefilter; on an all-PII corpus it adds
    * only the prefilter scans. (?s) so digits split across lines still match. */
  def mayContainPii(text: Column): Column =
    // one codegen'd byte scan (TextKernels.mayContainPii) — the
    // contains/rlike Column formulation it replaces cost about as much
    // as the gated kernels themselves (String conversion + regex scan;
    // PropertySpec pins the two formulations equal)
    graft.functions.VectorExprs.piiMayContain(text)

  /** The Column-expression reference formulation of [[mayContainPii]]
    * — spec-pinned equal to the byte-scan kernel (PropertySpec). */
  private[graft] def mayContainPiiRef(text: Column): Column =
    text.contains("@") || text.contains(":") ||
      text.rlike("(?s)[0-9].*[0-9]")

  /** [[scrub]] gated on [[mayContainPii]]: rows failing the necessary
    * condition skip the fused kernels entirely and pass through with
    * zero counts and unredacted text — bit-equal to [[scrub]] by the
    * necessity argument above, at prefilter cost on the clean bulk.
    * Defined for the default category set only (the necessity proof is
    * per-pattern; custom categories need their own prefilter). */
  def scrubSparse(df: DataFrame, textCol: String): DataFrame = {
    // the GlobalScan.prefixSum convention: fail loudly on staging-name
    // collisions instead of an ambiguous-reference AnalysisException
    // deep in the second projection (r13 review)
    Seq("__pf", "__v", "__red").foreach { c =>
      require(!df.columns.contains(c),
        s"scrubSparse stages a column named '$c'; rename the input's")
    }
    val t = col(textCol)
    // coalesce(pf, true): NULL text makes the prefilter NULL; routing
    // it through the kernel path (which null-propagates) keeps the
    // scrubSparse ≡ scrub law exact on null rows too — otherwise(0L)
    // would turn scrub's NULL counts into zeros (r13 review)
    val pf = coalesce(mayContainPii(t), lit(true))
    val cats = defaults
    // TWO-STAGE projection, deliberately: codegen subexpression
    // elimination does NOT fire inside `when()` branches, so a
    // single-projection formulation re-ran the counts kernel once per
    // output column — measured 31.2s vs the UNGATED scrub's 9.3s at
    // 500k docs (the gate made things 3× WORSE). Staging the gated
    // kernel results as their own columns evaluates each exactly once
    // (CollapseProject keeps the stage: a non-cheap expression
    // referenced 8 times is not inlined), and the second projection
    // only unpacks. Remeasured: 0.4s on the same corpus.
    val staged = df.select(
      (df.columns.map(col).toSeq :+
        pf.as("__pf") :+
        when(pf, countsVec(t, cats)).as("__v") :+
        when(pf, redact(t, cats)).as("__red")): _*)
    val g = col("__pf")
    val totalStaged = cats.indices
      .map(i => element_at(col("__v"), i + 1)).reduce(_ + _)
    staged.select(
      (df.columns.map(col).toSeq ++
        cats.zipWithIndex.map { case (c, i) =>
          when(g, element_at(col("__v"), i + 1)).otherwise(lit(0L))
            .as(s"n_${c.name}")
        } :+
        when(g, totalStaged).otherwise(lit(0L)).as("n_pii") :+
        when(g, col("__red")).otherwise(t).as("redacted")): _*)
  }

  /** Drop documents containing more than `maxTotal` PII matches across
    * all categories — the hard-filter variant (vs masking) used when a
    * policy forbids the document outright. */
  def dropPii(df: DataFrame, textCol: String, maxTotal: Long = 0L,
              cats: Seq[Category] = defaults): DataFrame = {
    val v = countsVec(col(textCol), cats)
    df.filter(cats.indices.map(i => element_at(v, i + 1)).reduce(_ + _)
      <= maxTotal)
  }
}
