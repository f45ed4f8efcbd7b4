package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII detection and redaction for training-data pipelines: emails,
  * credit-card-like numbers, SSN-like ids, NANP-style phone numbers,
  * and IPv4 addresses.
  *
  * Pure codegen'd regexp chains (no UDFs, no shuffle) — a narrow
  * per-row pass over the corpus, exactly like `TextFunctions`. The
  * patterns stay inside the regex subset RE2 and java.util.regex
  * interpret identically (character classes, bounded repetition, \b
  * ASCII word boundaries; no lookaround, no backreferences), so the
  * DuckDB oracle reproduces every replacement byte-for-byte.
  *
  * Replacement order matters and is fixed: email → credit card →
  * SSN → phone → IPv4. Earlier rewrites must not manufacture digit
  * runs for later patterns (replacement tokens are letter-only) and
  * the 4-4-4-4 card grouping is consumed before the looser 3-3-4
  * phone shape can bite a card fragment.
  */
object PiiFunctions {

  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ccRe    = "\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b"
  val ssnRe   = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val phoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val ipRe    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  private val ordered = Seq(
    emailRe -> "[EMAIL]", ccRe -> "[CARD]", ssnRe -> "[SSN]",
    phoneRe -> "[PHONE]", ipRe -> "[IP]")

  /** Text with every PII hit replaced by its type token. */
  def redactPii(text: Column): Column =
    ordered.foldLeft(text) { case (c, (re, token)) =>
      regexp_replace(c, re, token)
    }

  /** Per-type hit counts on the ORIGINAL text (counted before any
    * rewrite so overlapping types report independently).
    */
  def countEmails(text: Column): Column = regexp_count(text, lit(emailRe)).cast("long")
  def countCards(text: Column): Column  = regexp_count(text, lit(ccRe)).cast("long")
  def countSsns(text: Column): Column   = regexp_count(text, lit(ssnRe)).cast("long")
  def countPhones(text: Column): Column = regexp_count(text, lit(phoneRe)).cast("long")
  def countIps(text: Column): Column    = regexp_count(text, lit(ipRe)).cast("long")
}
