package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text cleaning / PII scrubbing for training-data pipelines: regex
  * redaction of emails, phone numbers, and IP addresses; suffix-preserving
  * masking; whitespace normalization. Everything is built from codegen'd
  * regexp/string builtins with patterns chosen to evaluate identically
  * under Java regex (Spark) and RE2 (the DuckDB oracle) — no UDFs.
  *
  * Scale: all narrow per-row projections — at 100 TB this whole family is
  * a single map-only pass fused into the scan by whole-stage codegen.
  */
object TextClean {

  // Patterns deliberately restricted to constructs with identical
  // semantics in Java regex and RE2 (character classes, bounded repeats,
  // no lookaround/backreferences).
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val IpPattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhonePattern = "\\+?[0-9][0-9 .-]{6,}[0-9]"

  def redactEmails(c: Column, token: String = "[EMAIL]"): Column =
    regexp_replace(c, EmailPattern, token)

  def redactIps(c: Column, token: String = "[IP]"): Column =
    regexp_replace(c, IpPattern, token)

  def redactPhones(c: Column, token: String = "[PHONE]"): Column =
    regexp_replace(c, PhonePattern, token)

  /** Full scrub. ORDER MATTERS: emails first (their local parts can
    * contain digit runs), then IPs (which the looser phone pattern would
    * otherwise swallow), then phones. */
  def scrubPii(c: Column): Column =
    redactPhones(redactIps(redactEmails(c)))

  /** Count of PII matches for audit/reporting (emails + IPs + phones,
    * counted on the progressively-scrubbed text like scrubPii redacts). */
  def piiCount(c: Column): Column = {
    val afterEmail = redactEmails(c)
    val afterIp = redactIps(afterEmail)
    (size(regexp_extract_all(c, lit(EmailPattern), lit(0))) +
      size(regexp_extract_all(afterEmail, lit(IpPattern), lit(0))) +
      size(regexp_extract_all(afterIp, lit(PhonePattern), lit(0)))).cast("long")
  }

  /** Mask all but the last `keep` characters (account numbers, phone
    * tails): "555-867-5309" -> "********5309". */
  def maskKeepLast(c: Column, keep: Int, maskChar: String = "*"): Column =
    when(length(c) <= keep, c).otherwise(
      concat(repeat(lit(maskChar), length(c) - keep),
        substring(c, -keep, keep)))

  /** Collapse whitespace runs to single spaces and trim — the canonical
    * pre-tokenization normalization. */
  def normalizeWhitespace(c: Column): Column =
    trim(regexp_replace(c, "[ \\t\\r\\n]+", " "))
}
