package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level function library — SURVEY.md §2.7. Everything here is
  * a composition of codegen'd built-ins (no UDFs): these stay inside
  * WholeStageCodegen and never materialize intermediate rows.
  *
  * Regex patterns deliberately use the Java∩RE2 common subset so the
  * DuckDB oracle evaluates them identically.
  */
object TextFunctions {

  /** F12: email shape (reference: pydantic EmailStr,
    * services/document/app/db/schemes.py:10).
    */
  val EmailPattern = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"
  def isValidEmail(c: Column): Column = c.rlike(EmailPattern)

  /** U1 PII rubric (reference enumerates email/phone/ssn at
    * OpenAIProvider.py:65,77) — embedded (non-anchored) matches.
    */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiSsn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  val PiiPhone = "\\+?[0-9][0-9 ()-]{7,14}[0-9]"
  def hasPii(c: Column): Column =
    c.rlike(PiiEmail) || c.rlike(PiiSsn) || c.rlike(PiiPhone)

  /** PII redaction — the transform counterpart of [[hasPii]] for
    * training corpora that keep the document but strip identifiers.
    * SSN runs before phone: an SSN is also a valid phone-shaped digit
    * run, so the order decides which placeholder wins. Narrow,
    * codegen'd, same Java∩RE2 patterns as the detector.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, PiiEmail, "[EMAIL]"),
        PiiSsn, "[SSN]"),
      PiiPhone, "[PHONE]")

  /** Canonical text normalization for comparison/dedup keys:
    * lowercase, every char outside [a-z0-9 ] becomes a space, space
    * runs collapse, ends trim — so case, punctuation, and whitespace
    * variants of the same prose normalize identically (the key an
    * exact-dedup pass should group on when the crawl is noisy).
    * Narrow, codegen'd; the char-class patterns sit in the Java∩RE2
    * intersection like the PII regexes, so the DuckDB twin is
    * byte-identical.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** P8: title length constraint (schemes.py:7 — 1..255 chars). */
  def isValidTitle(c: Column): Column = length(c).between(1, 255)

  /** P8/F1: content byte-size cap (schemes.py:12-16 — 10 MB). */
  def withinSizeLimit(c: Column, maxBytes: Long = 10L * 1024 * 1024): Column =
    octet_length(c) <= maxBytes

  /** F13: status-enum membership (init-db.sql:31-43). */
  val Statuses = Seq("created", "sent", "viewed", "signed", "completed",
    "cancelled", "approved", "pending", "archived")
  def isValidStatus(c: Column): Column = c.isin(Statuses: _*)

  /** F6: ISO-8601 formatting (grpc_servicer.py:134-135 isoformat). */
  def isoFormat(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** F7: epoch-millis ↔ timestamp acceptance (ES date format
    * `strict_date_optional_time||epoch_millis`, event/app/main.py:94-101).
    */
  def fromEpochMillis(ms: Column): Column = timestamp_millis(ms)
  def toEpochMillis(ts: Column): Column = unix_millis(ts)

  /** The driver events table reads ts as epoch-NANO long
    * (`Tables.events` contract); convert to a real timestamp column. Integer `div`,
    * not `/1000`+cast: epoch-nanos exceed the 2^53 exact-double range,
    * so double division drifts the last microsecond digit.
    */
  def eventTs(tsNanos: Column): Column =
    timestamp_micros(call_function("div", tsNanos, lit(1000L)))

  /** F10: UUID shape validation (path params typed UUID,
    * main.py:103).
    */
  val UuidPattern =
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
  def isValidUuid(c: Column): Column = c.rlike(UuidPattern)

  /** F16: client-IP fallback chain (main.py:108). */
  def clientIp(ipAddress: Column, clientHost: Column): Column =
    coalesce(ipAddress, clientHost, lit("unknown"))

  /** F9: uuid7-style time-ordered deterministic id — 48-bit
    * millisecond timestamp prefix (sorts by time, like uuid7's
    * layout) + hash-derived remainder. Deterministic so oracle
    * comparisons stay possible (SURVEY §7.5.4).
    */
  def uuid7(tsMillis: Column, entropy: Column): Column = {
    val tsHex = lpad(hex(tsMillis), 12, "0")
    val h = md5(concat_ws("|", tsMillis, entropy))
    concat(
      substring(tsHex, 1, 8), lit("-"), substring(tsHex, 9, 4), lit("-"),
      lit("7"), substring(h, 1, 3), lit("-"),
      substring(h, 4, 4), lit("-"), substring(h, 8, 12))
  }

  /** Single-space tokenization — matches DuckDB string_split(text,' ')
    * exactly (regex-free), for oracle-compared word statistics.
    */
  def words(c: Column): Column = split(c, " ", -1)

  def wordCount(c: Column): Column = size(words(c))

  def stopwordCount(c: Column, stopwords: Seq[String]): Column =
    size(filter(words(c), w => w.isin(stopwords.map(lit): _*)))

  /** F2: reference truncates scorer input to 1024 chars
    * (OpenAIProvider.py:44).
    */
  def truncateContent(c: Column, maxChars: Int = 1024): Column =
    substring(c, 1, maxChars)
}
