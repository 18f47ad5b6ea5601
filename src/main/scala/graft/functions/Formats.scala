package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Format validators — behavioral port of the reference's 24 named formats
  * (reference lib/JSON/Validator/Formats.pm), each as a pure Catalyst
  * `Column => Column` boolean predicate (true = valid), NULL on NULL.
  *
  * `date`, `time` and `date-time` are one native expression,
  * [[Rfc3339Check]]: a single pass over the UTF-8 bytes with generated code
  * (no regex, no `toString`, no timestamp parser), so the per-row cost of
  * these checks is a few byte compares. They accept, quirks included:
  *  - `date-time`: `^\d{4}-\d\d-\d\d[Tt ]\d\d:\d\d:\d\d(\.\d+)?([Zz]|[+-]\d\d:\d\d)?$`;
  *    a real proleptic-Gregorian date (year 0000 is valid), hh ≤ 23,
  *    mm ≤ 59, ss ≤ 60 (leap second, like the reference's timegm) and
  *    offset hours ≤ 23, minutes ≤ 59;
  *  - `date`: `^\d{4}-\d\d-\d\d$` plus the same calendar check;
  *  - `time`: `^\d\d:\d\d:\d\d(\.\d+)?([Zz]|[+-]\d+:\d+)?$` with the same
  *    hh/mm/ss bounds; the offset is any digits and is not range-checked;
  *  - `\d` is ASCII 0-9 only, and `$` is java.util.regex's: it also
  *    matches before ONE final line terminator (`\n`, `\r\n`, `\r`,
  *    U+0085, U+2028, U+2029). `date-time` and `time` accept it; `date`
  *    rejects it.
  *
  * The other formats stay Catalyst regex/compare composites, inside
  * whole-stage codegen.
  *
  * The registry is user-extensible like the reference's `formats` hash
  * (reference Schema.pm:164-192): pass extra entries to [[Registry]].
  *
  * Reference formats that depend on optional Perl modules (`hostname` with
  * Data::Validate::Domain, `ipv6`, `idn-*`) are implemented natively here
  * rather than "pass with a warning" — stricter than the reference's
  * missing-module fallback (reference Formats.pm:220-223), controlled by
  * `permissive`.
  */
object Formats {

  private def re(c: Column, p: String): Column = c.rlike(p)

  /** base64 alphabet (reference Formats.pm:16-18). */
  def byte(c: Column): Column = re(c, "^[A-Za-z0-9+/=]+$")

  /** RFC3339 full-date with real calendar validity (reference
    * Formats.pm:20-31 uses timegm). */
  def date(c: Column): Column = Rfc3339Check.rfc3339Check(c, "date")

  /** RFC3339 date-time incl. offset-bound checks (reference Formats.pm:33-46). */
  def dateTime(c: Column): Column = Rfc3339Check.rfc3339Check(c, "date-time")

  /** ISO8601 duration regex (reference Formats.pm:50-66, ported
    * structurally) — RE2-safe, shared with the SQL oracle. */
  val durationRe: String = {
    val num  = "\\d+(?:[,.]\\d+)?"
    val sec  = s"${num}S"
    val min  = s"${num}M(?:$sec)?"
    val hour = s"${num}H(?:$min)?"
    val day  = s"${num}D(?:$hour)?"
    val mon  = s"${num}M(?:$day)?"
    val year = s"${num}Y(?:$mon)?"
    val week = s"${num}W"
    val time = s"T(?:$hour|$min|$sec)"
    val dat  = s"(?:$day|$mon|$year)(?:$time)?"
    s"^P(?:$dat|$time|$week)$$"
  }
  def duration(c: Column): Column = re(c, durationRe)

  /** RFC5322 email (reference Formats.pm:68-81; same structure in Java regex). */
  def email(c: Column): Column = {
    val atom          = "[a-zA-Z0-9_!#$%&'*+/=?^`{}~|\\-]+"
    val quotedString  = "\"(?:\\\\[^\\r\\n]|[^\\\\\"])*\""
    val domainLiteral = "\\[(?:\\\\[\\x01-\\x09\\x0B-\\x0c\\x0e-\\x7f]|[\\x21-\\x5a\\x5e-\\x7e])*\\]"
    val dotAtom       = s"$atom(?:\\.$atom)*"
    val localPart     = s"(?:$dotAtom|$quotedString)"
    val domain        = s"(?:$dotAtom|$domainLiteral)"
    re(c, s"^$localPart@$domain$$")
  }

  private val intRe = "^-?\\d+(\\.\\d+)?$"
  private val numRe = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"

  /** Integer-syntax check + range via exact decimal compare (reference
    * Formats.pm:115-116 pack/unpack round-trip). */
  private def intRange(c: Column, lo: String, hi: String): Column = {
    val d = regexp_replace(c, "\\.\\d+$", "") // reference accepts "1.0" shapes for intNN
    re(c, intRe) && re(c, "^-?\\d+(\\.0*)?$") && length(d) <= 30 &&
      d.cast("decimal(38,0)").between(lit(lo).cast("decimal(38,0)"), lit(hi).cast("decimal(38,0)"))
  }
  def int32(c: Column): Column = intRange(c, "-2147483648", "2147483647")
  def int64(c: Column): Column = intRange(c, "-9223372036854775808", "9223372036854775807")

  def number(c: Column): Column = re(c, numRe)
  def double(c: Column): Column = number(c)
  def float(c: Column): Column  = number(c)

  /** RFC1123 hostname label structure (no length lookahead — that part is
    * the separate `length ≤ 253` conjunct, so the regex stays RE2-safe and
    * the SQL oracle can share it verbatim). */
  val hostnameLabelsRe: String =
    "^[A-Za-z0-9]([A-Za-z0-9\\-]{0,61}[A-Za-z0-9])?(\\.[A-Za-z0-9]([A-Za-z0-9\\-]{0,61}[A-Za-z0-9])?)*$"

  /** RFC1123 hostname (reference delegates to Data::Validate::Domain,
    * Formats.pm:85-89; native here). */
  def hostname(c: Column): Column =
    length(c) <= 253 && length(c) >= 1 && re(c, hostnameLabelsRe)

  def idnHostname(c: Column): Column = hostname(c) || re(c, "^[^\\x00-\\x7F].*")
  def idnEmail(c: Column): Column    = email(c) || (re(c, "^[^@]+@[^@]+$") && re(c, "[^\\x00-\\x7F]"))

  /** dotted-quad, octets 0-255, no leading zeros (reference Formats.pm:150-155). */
  def ipv4(c: Column): Column =
    re(c, "^((25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)\\.){3}(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)$")

  /** structural ipv6 (reference delegates to Data::Validate::IP). */
  def ipv6(c: Column): Column = {
    val h = "[0-9A-Fa-f]{1,4}"
    val full  = s"^($h:){7}$h$$"
    val compr = s"^(($h:)*$h)?::(($h:)*$h)?$$"
    (re(c, full) || (re(c, compr) && !re(c, "::.*::"))) && !re(c, ":::")
  }

  def jsonPointer(c: Column): Column = (length(c) === 0) || re(c, "^/")
  def relativeJsonPointer(c: Column): Column = re(c, "^\\d+(#$|$|/.*$)")

  /** RFC3986 structural checks (reference Formats.pm:124-144). */
  def uriReference(c: Column): Column = {
    val p        = "^(([^:/?#]+):)?(//([^/?#]*))?([^?#]*)(\\?([^#]*))?(#(.*))?"
    val scheme   = regexp_extract(c, p, 2)
    val authHost = regexp_extract(c, p, 4)
    val path     = regexp_extract(c, p, 5)
    val hasAuth  = re(c, "^([^:/?#]+:)?//")
    val fragOk   = re(c, "#") || length(path) > 0 || length(scheme) > 0
    val schemeOk = (length(scheme) === 0) || re(scheme, "^[A-Za-z][A-Za-z0-9+\\-.]*$")
    val hexOk    = !re(c, "%[^0-9A-Fa-f]") && !re(c, "%[0-9A-Fa-f]([^0-9A-Fa-f]|$)")
    val pathOk   = when(hasAuth && length(authHost) > 0, (length(path) === 0) || re(path, "^/"))
      .otherwise(!re(path, "^//"))
    (length(scheme) > 0 || !hasAuth || length(authHost) === 0) && fragOk && schemeOk && hexOk && pathOk
  }
  def uri(c: Column): Column = !re(c, "[^\\x00-\\x7F]") && re(c, "^[A-Za-z][A-Za-z0-9+\\-.]*:") && uriReference(c)
  def iri(c: Column): Column = re(c, "^\\w+:") && uriReference(c)
  def iriReference(c: Column): Column = uriReference(c)
  def uriTemplate(c: Column): Column = iri(c)

  def uuid(c: Column): Column =
    re(c, "^[0-9A-Fa-f]{8}-[0-9A-Fa-f]{4}-[0-9][0-9A-Fa-f]{3}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{12}$")

  /** RFC3339 time (reference Formats.pm:175-185). */
  def time(c: Column): Column = Rfc3339Check.rfc3339Check(c, "time")

  /** `regex` format: compilability is checked on the driver at rule-compile
    * time (reference Formats.pm:171-173) — per-row it is a constant. */
  def regexCompilable(pattern: String): Boolean =
    scala.util.Try(java.util.regex.Pattern.compile(pattern)).isSuccess

  /** The default registry, name-compatible with the reference's format set. */
  val registry: Map[String, Column => Column] = Map(
    "byte" -> byte _, "date" -> date _, "date-time" -> dateTime _,
    "duration" -> duration _, "email" -> email _, "double" -> double _,
    "float" -> float _, "hostname" -> hostname _, "idn-email" -> idnEmail _,
    "idn-hostname" -> idnHostname _, "int32" -> int32 _, "int64" -> int64 _,
    "ipv4" -> ipv4 _, "ipv6" -> ipv6 _, "iri" -> iri _,
    "iri-reference" -> iriReference _, "json-pointer" -> jsonPointer _,
    "relative-json-pointer" -> relativeJsonPointer _, "time" -> time _,
    "uri" -> uri _, "uri-reference" -> uriReference _,
    "uri-template" -> uriTemplate _, "uuid" -> uuid _
  )

  /** Extensible registry. `permissive=true` mirrors the reference's
    * unknown-format-passes behavior (reference Schema.pm:601-608). */
  final case class Registry(extra: Map[String, Column => Column] = Map.empty, permissive: Boolean = true) {
    def apply(name: String): Option[Column => Column] = extra.get(name).orElse(registry.get(name))
    def check(name: String, c: Column): Column =
      apply(name).map(_(c)).getOrElse {
        if (permissive) lit(true)
        else throw new IllegalArgumentException(s"unknown format: $name")
      }
  }
}
