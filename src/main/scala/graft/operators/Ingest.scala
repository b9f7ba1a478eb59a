package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.functions.GoQuoteExpr

/** The reference's ingest pipeline re-expressed as batch columnar
  * transforms (SURVEY.md §2A rows 3-7, 16; Q12).
  *
  * The reference frames a binary payload per connection, drops empties,
  * renders hex + Go-%q projections, tags a severity, stamps an RFC3339
  * UTC timestamp and serializes a LogEntry JSON object whose empty fields
  * are omitted (reference main.go:43-53, 101-116, 298-309). Here the same
  * record shape is produced declaratively so it runs identically over a
  * batch DataFrame (this module) and a stream (graft.streaming.IngestStream)
  * — one narrow, shuffle-free, codegen-friendly projection either way.
  */
object Ingest {

  /** Empty-payload drop (reference main.go:298-301): a pushed-down filter. */
  def nonEmpty(payload: Column): Column = octet_length(payload) > 0

  /** Severity tagging (reference main.go:30-41): code-path enum as CASE WHEN. */
  def severity(payload: Column): Column =
    when(payload.isNull || octet_length(payload) === 0, "WARN").otherwise("INFO")

  /** Lowercase hex rendering; Go %x is lowercase, Spark hex() is upper
    * (reference main.go:112). */
  def hexLower(payload: Column): Column = lower(hex(payload))

  /** RFC3339 UTC timestamp string (reference main.go:102); session TZ is
    * always UTC so the literal 'Z' suffix is exact. */
  def rfc3339(ts: Column): Column = date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** The LogEntry fields as named columns, the one definition behind
    * [[logEntry]] and the stream's flat projection
    * (`graft.streaming.IngestStream.transform`). Absent fields are null
    * here and dropped by [[toJson]] and the JSON sink, reproducing Go
    * omitempty — including the int quirk: byte_count 0 is omitted, so it
    * is null-when-0 (reference main.go:49). Field order matches the Go
    * struct declaration so the serialized JSON is field-for-field
    * comparable. */
  def logEntryFields(ts: Column, payload: Column, clientIp: Column): Seq[Column] = {
    // null payload ≡ empty: severity already maps it to WARN; without the
    // coalesce the message concat would null out and omitempty-drop it
    val n = coalesce(octet_length(payload), lit(0))
    Seq(
      rfc3339(ts).as("timestamp"),
      severity(payload).as("level"),
      concat(lit("received "), n.cast(StringType), lit(" bytes")).as("message"),
      clientIp.as("client_ip"),
      when(n > 0, n).as("byte_count"),
      when(n > 0, hexLower(payload)).as("binary_data_hex"),
      when(n > 0, GoQuoteExpr.native(payload)).as("binary_data_string"))
  }

  /** The LogEntry record as a struct column of [[logEntryFields]]. */
  def logEntry(ts: Column, payload: Column, clientIp: Column): Column =
    struct(logEntryFields(ts, payload, clientIp): _*)

  /** JSONL serialization with omitempty (reference main.go:116). */
  def toJson(entry: Column): Column =
    to_json(entry, Map("ignoreNullFields" -> "true"))

  // ---------------------------------------------------------------- Q12
  /** Oracle-verified portion of the pipeline: hex / byte-count / severity
    * over deterministic binary payloads (documents.text as UTF-8 bytes).
    * Pure projection — no shuffle; at 100 TB this is a map-only scan.
    */
  private def q12Hex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(
        $"doc_id",
        hexLower($"text".cast(BinaryType)).as("payload_hex"),
        octet_length($"text".cast(BinaryType)).as("byte_count"),
        severity($"text".cast(BinaryType)).as("level"))
      .filter(nonEmpty($"text".cast(BinaryType)))
      .orderBy($"doc_id")
  }

  private val q12HexSql =
    """SELECT doc_id,
      |  lower(hex(encode(text))) AS payload_hex,
      |  CAST(octet_length(encode(text)) AS INTEGER) AS byte_count,
      |  CASE WHEN octet_length(encode(text)) = 0 THEN 'WARN' ELSE 'INFO' END AS level
      |FROM documents
      |WHERE octet_length(encode(text)) > 0
      |ORDER BY doc_id""".stripMargin

  /** Full LogEntry JSON round-trip, oracle-checked: over printable
    * ASCII plus the whitespace control family, Go-%q is quote-wrapping
    * plus escaping of `"`, `\`, TAB→`\t`, LF→`\n`, CR→`\r` — all
    * expressible as SQL `replace` chains, as is the JSON re-escaping
    * to_json applies on top — so DuckDB rebuilds the ENTIRE serialized
    * line byte-for-byte. The fixture is `[a-z0-9 ]`-only at every SF,
    * so the control-char paths are exercised by deterministically
    * rewriting spaces per doc_id residue (doc_id%4: 1→TAB, 2→LF,
    * 3→CRLF, 0→unchanged) identically in both engines — the oracle now
    * covers the named control escapes, not just printables; the
    * remaining `\xNN`/`\uNNNN`/`\UNNNNNNNN` and invalid-UTF-8 paths
    * stay with the `GoQuoteSpec` goldens/properties. Timestamps derive
    * from doc_id so the output is deterministic. */
  private def q12Json(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val text =
      when($"doc_id" % 4 === 1, translate($"text", " ", "\t"))
        .when($"doc_id" % 4 === 2, translate($"text", " ", "\n"))
        .when($"doc_id" % 4 === 3, regexp_replace($"text", " ", "\r\n"))
        .otherwise($"text")
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        timestamp_seconds($"doc_id" * 60).as("ts"),
        text.cast(BinaryType).as("payload"),
        format_string("10.0.%d.%d", $"doc_id" % 256, $"doc_id" % 100).as("client_ip"))
      .select($"doc_id", toJson(logEntry($"ts", $"payload", $"client_ip")).as("log_json"))
      .orderBy($"doc_id")
  }

  /** The SQL-expressible LogEntry fields as columns, oracle-checked —
    * timestamp, level, message, client_ip, byte_count (with the
    * omitempty null-when-0 quirk), hex. Only the Go-%q projection stays
    * with the golden unit tests ([[q12Json]] keeps the full JSON
    * round-trip as a rows-only check). */
  private def q12Fields(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        timestamp_seconds($"doc_id" * 60).as("ts"),
        $"text".cast(BinaryType).as("payload"),
        format_string("10.0.%d.%d", $"doc_id" % 256, $"doc_id" % 100).as("client_ip"))
      .select($"doc_id", logEntry($"ts", $"payload", $"client_ip").as("e"))
      .select($"doc_id", $"e.timestamp".as("timestamp"), $"e.level".as("level"),
        $"e.message".as("message"), $"e.client_ip".as("client_ip"),
        $"e.byte_count".as("byte_count"), $"e.binary_data_hex".as("binary_data_hex"))
      .orderBy($"doc_id")
  }

  private val q12FieldsSql =
    """SELECT doc_id,
      |  strftime(make_timestamp(doc_id * 60 * 1000000), '%Y-%m-%dT%H:%M:%SZ') AS "timestamp",
      |  CASE WHEN octet_length(encode(text)) = 0 THEN 'WARN' ELSE 'INFO' END AS level,
      |  'received ' || CAST(octet_length(encode(text)) AS VARCHAR) || ' bytes' AS message,
      |  '10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) AS client_ip,
      |  CASE WHEN octet_length(encode(text)) > 0
      |       THEN CAST(octet_length(encode(text)) AS INTEGER) END AS byte_count,
      |  CASE WHEN octet_length(encode(text)) > 0
      |       THEN lower(hex(encode(text))) END AS binary_data_hex
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** The serialized LogEntry JSON envelope minus only the Go-%q field —
    * i.e. everything SQL-expressible of the reference's omitempty
    * serialization (main.go:101-116), oracle-checked as one string.
    * DuckDB rebuilds the identical JSON by concatenation: none of the
    * retained fields (RFC3339 timestamp, level enum, "received N bytes",
    * dotted-quad ip, integer count, lowercase hex) can contain a
    * JSON-escapable character, so plain concat is byte-exact against
    * Spark's to_json. Only binary_data_string stays golden-test-only
    * ([[q12Json]] keeps the full round-trip as a rows-only check). */
  private def q12Envelope(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        timestamp_seconds($"doc_id" * 60).as("ts"),
        $"text".cast(BinaryType).as("payload"),
        format_string("10.0.%d.%d", $"doc_id" % 256, $"doc_id" % 100).as("client_ip"))
      .select($"doc_id",
        toJson(logEntry($"ts", $"payload", $"client_ip")
          .dropFields("binary_data_string")).as("envelope_json"))
      .orderBy($"doc_id")
  }

  private val q12EnvelopeSql =
    """SELECT doc_id,
      |  '{"timestamp":"' || strftime(make_timestamp(doc_id * 60 * 1000000), '%Y-%m-%dT%H:%M:%SZ') ||
      |  '","level":"' || CASE WHEN octet_length(encode(text)) = 0 THEN 'WARN' ELSE 'INFO' END ||
      |  '","message":"received ' || CAST(octet_length(encode(text)) AS VARCHAR) ||
      |  ' bytes","client_ip":"10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
      |  CAST(doc_id % 100 AS VARCHAR) || '"' ||
      |  CASE WHEN octet_length(encode(text)) > 0
      |       THEN ',"byte_count":' || CAST(octet_length(encode(text)) AS VARCHAR) ||
      |            ',"binary_data_hex":"' || lower(hex(encode(text))) || '"'
      |       ELSE '' END || '}' AS envelope_json
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // the %q stage escapes backslash and quote first, then rewrites the
  // control chars to their Go named escapes (disjoint search chars, so
  // order among TAB/LF/CR is immaterial); the JSON stage then re-escapes
  // the backslashes %q introduced — exactly what to_json does on top of
  // GoQuote's output.
  private val q12JsonSql =
    """WITH p AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 4 = 1 THEN replace(text, ' ', chr(9))
      |         WHEN doc_id % 4 = 2 THEN replace(text, ' ', chr(10))
      |         WHEN doc_id % 4 = 3 THEN replace(text, ' ', chr(13) || chr(10))
      |         ELSE text END AS text
      |  FROM documents)
      |SELECT doc_id,
      |  '{"timestamp":"' || strftime(make_timestamp(doc_id * 60 * 1000000), '%Y-%m-%dT%H:%M:%SZ') ||
      |  '","level":"' || CASE WHEN octet_length(encode(text)) = 0 THEN 'WARN' ELSE 'INFO' END ||
      |  '","message":"received ' || CAST(octet_length(encode(text)) AS VARCHAR) ||
      |  ' bytes","client_ip":"10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
      |  CAST(doc_id % 100 AS VARCHAR) || '"' ||
      |  CASE WHEN octet_length(encode(text)) > 0
      |       THEN ',"byte_count":' || CAST(octet_length(encode(text)) AS VARCHAR) ||
      |            ',"binary_data_hex":"' || lower(hex(encode(text))) ||
      |            '","binary_data_string":"' ||
      |            replace(replace(
      |              '"' || replace(replace(replace(replace(replace(
      |                text, '\', '\\'), '"', '\"'),
      |                chr(9), '\t'), chr(10), '\n'), chr(13), '\r') || '"',
      |              '\', '\\'), '"', '\"') || '"'
      |       ELSE '' END || '}' AS log_json
      |FROM p
      |ORDER BY doc_id""".stripMargin

  /** The %q oracle extended beyond \t/\n/\r (VERDICT r5 item 7): Go
    * names FOUR more control escapes (\a \b \v \f), renders the rest of
    * 0x00-0x1f as `\xNN`, and passes printable non-ASCII through
    * literally — all DuckDB-expressible. Spaces are rewritten per
    * doc_id%8 residue identically in both engines: 1→BEL(\a), 2→BS(\b),
    * 3→VT(\v), 4→FF(\f), 5→0x01(\x01), 6→ESC(\x1b), 7→é (U+00E9,
    * 2-byte UTF-8, printable → literal), 0→unchanged. The full JSON
    * envelope is compared byte-for-byte, so this also pins byte_count
    * and hex over multi-byte UTF-8. Remaining golden-only residue:
    * `\uNNNN`/`\UNNNNNNNN` for unprintable runes and invalid-UTF-8
    * `\xNN` (DuckDB VARCHAR cannot hold invalid UTF-8 to inject). */
  private def q12Controls(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val text =
      when($"doc_id" % 8 === 1, translate($"text", " ", "\u0007"))
        .when($"doc_id" % 8 === 2, translate($"text", " ", "\u0008"))
        .when($"doc_id" % 8 === 3, translate($"text", " ", "\u000b"))
        .when($"doc_id" % 8 === 4, translate($"text", " ", "\u000c"))
        .when($"doc_id" % 8 === 5, translate($"text", " ", "\u0001"))
        .when($"doc_id" % 8 === 6, translate($"text", " ", "\u001b"))
        .when($"doc_id" % 8 === 7, translate($"text", " ", "\u00e9"))
        .otherwise($"text")
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        timestamp_seconds($"doc_id" * 60).as("ts"),
        text.cast(BinaryType).as("payload"),
        format_string("10.0.%d.%d", $"doc_id" % 256, $"doc_id" % 100).as("client_ip"))
      .select($"doc_id", toJson(logEntry($"ts", $"payload", $"client_ip")).as("log_json"))
      .orderBy($"doc_id")
  }

  private val q12ControlsSql =
    """WITH p AS (
      |  SELECT doc_id,
      |    CASE doc_id % 8
      |      WHEN 1 THEN replace(text, ' ', chr(7))
      |      WHEN 2 THEN replace(text, ' ', chr(8))
      |      WHEN 3 THEN replace(text, ' ', chr(11))
      |      WHEN 4 THEN replace(text, ' ', chr(12))
      |      WHEN 5 THEN replace(text, ' ', chr(1))
      |      WHEN 6 THEN replace(text, ' ', chr(27))
      |      WHEN 7 THEN replace(text, ' ', chr(233))
      |      ELSE text END AS text
      |  FROM documents)
      |SELECT doc_id,
      |  '{"timestamp":"' || strftime(make_timestamp(doc_id * 60 * 1000000), '%Y-%m-%dT%H:%M:%SZ') ||
      |  '","level":"' || CASE WHEN octet_length(encode(text)) = 0 THEN 'WARN' ELSE 'INFO' END ||
      |  '","message":"received ' || CAST(octet_length(encode(text)) AS VARCHAR) ||
      |  ' bytes","client_ip":"10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
      |  CAST(doc_id % 100 AS VARCHAR) || '"' ||
      |  CASE WHEN octet_length(encode(text)) > 0
      |       THEN ',"byte_count":' || CAST(octet_length(encode(text)) AS VARCHAR) ||
      |            ',"binary_data_hex":"' || lower(hex(encode(text))) ||
      |            '","binary_data_string":"' ||
      |            replace(replace(
      |              '"' || replace(replace(replace(replace(replace(replace(replace(
      |                replace(replace(replace(replace(
      |                text, '\', '\\'), '"', '\"'),
      |                chr(9), '\t'), chr(10), '\n'), chr(13), '\r'),
      |                chr(7), '\a'), chr(8), '\b'), chr(11), '\v'), chr(12), '\f'),
      |                chr(1), '\x01'), chr(27), '\x1b') || '"',
      |              '\', '\\'), '"', '\"') || '"'
      |       ELSE '' END || '}' AS log_json
      |FROM p
      |ORDER BY doc_id""".stripMargin

  /** The `%q` RESIDUE classes, driver-oracled (VERDICT r19 #4 — the one
    * corner of the ingest pipeline that was golden-tested only):
    * `\uNNNN` / `\UNNNNNNNN` unprintables and every invalid-UTF-8
    * escape family, planted deterministically per doc_id like the
    * controls row. Cases 1–4 splice valid-but-unprintable runes into
    * the text (U+2028 Zl, U+00AD and U+FEFF Cf, U+E0001 astral Cf —
    * categories stable across Unicode versions, so JVM and Go tables
    * agree); cases 5–7 append RAW INVALID BYTES to the payload (bad
    * lead FF + stray continuation 80; overlong C0 AF + encoded
    * surrogate ED A0 80; > U+10FFFF F4 90 80 80 + truncated C3) —
    * every one must render byte-for-byte as Go's strconv.Quote does,
    * and the hex/byte_count fields must track the raw payload. */
  private def q12QuoteEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val text =
      when($"doc_id" % 8 === 1, replace($"text", lit(" "), lit(" ")))
        .when($"doc_id" % 8 === 2, replace($"text", lit(" "), lit("­")))
        .when($"doc_id" % 8 === 3, replace($"text", lit(" "), lit("﻿")))
        .when($"doc_id" % 8 === 4, replace($"text", lit(" "), lit(new String(Character.toChars(0xE0001)))))
        .otherwise($"text")
    val tail =
      when($"doc_id" % 8 === 5, lit(Array[Byte](0xff.toByte, 0x80.toByte)))
        .when($"doc_id" % 8 === 6,
          lit(Array[Byte](0xc0.toByte, 0xaf.toByte, 0xed.toByte, 0xa0.toByte, 0x80.toByte)))
        .when($"doc_id" % 8 === 7,
          lit(Array[Byte](0xf4.toByte, 0x90.toByte, 0x80.toByte, 0x80.toByte, 0xc3.toByte)))
        .otherwise(lit(Array.empty[Byte]))
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        timestamp_seconds($"doc_id" * 60).as("ts"),
        concat(text.cast(BinaryType), tail).as("payload"),
        format_string("10.0.%d.%d", $"doc_id" % 256, $"doc_id" % 100).as("client_ip"))
      .select($"doc_id", toJson(logEntry($"ts", $"payload", $"client_ip")).as("log_json"))
      .orderBy($"doc_id")
  }

  /** DuckDB restatement: the payload is encode(text') || the planted
    * raw-byte tail (unhex), hex/byte_count computed on it directly; the
    * Go-quoted string is the controls chain extended with the planted
    * unprintables' literal escapes plus the tail's fixed `\xNN` run,
    * then JSON-escaped exactly as to_json does. */
  private val q12QuoteEdgesSql =
    """WITH p AS (
      |  SELECT doc_id,
      |    CASE doc_id % 8
      |      WHEN 1 THEN replace(text, ' ', chr(8232))
      |      WHEN 2 THEN replace(text, ' ', chr(173))
      |      WHEN 3 THEN replace(text, ' ', chr(65279))
      |      WHEN 4 THEN replace(text, ' ', chr(917505))
      |      ELSE text END AS text,
      |    CASE doc_id % 8
      |      WHEN 5 THEN unhex('FF80')
      |      WHEN 6 THEN unhex('C0AFEDA080')
      |      WHEN 7 THEN unhex('F4908080C3')
      |      ELSE unhex('') END AS tail,
      |    CASE doc_id % 8
      |      WHEN 5 THEN '\xff\x80'
      |      WHEN 6 THEN '\xc0\xaf\xed\xa0\x80'
      |      WHEN 7 THEN '\xf4\x90\x80\x80\xc3'
      |      ELSE '' END AS tailq
      |  FROM documents),
      |b AS (SELECT doc_id, text, tailq, encode(text) || tail AS payload FROM p)
      |SELECT doc_id,
      |  '{"timestamp":"' || strftime(make_timestamp(doc_id * 60 * 1000000), '%Y-%m-%dT%H:%M:%SZ') ||
      |  '","level":"' || CASE WHEN octet_length(payload) = 0 THEN 'WARN' ELSE 'INFO' END ||
      |  '","message":"received ' || CAST(octet_length(payload) AS VARCHAR) ||
      |  ' bytes","client_ip":"10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
      |  CAST(doc_id % 100 AS VARCHAR) || '"' ||
      |  CASE WHEN octet_length(payload) > 0
      |       THEN ',"byte_count":' || CAST(octet_length(payload) AS VARCHAR) ||
      |            ',"binary_data_hex":"' || lower(hex(payload)) ||
      |            '","binary_data_string":"' ||
      |            replace(replace(
      |              '"' || replace(replace(replace(replace(replace(replace(replace(
      |                replace(replace(
      |                text, '\', '\\'), '"', '\"'),
      |                chr(9), '\t'), chr(10), '\n'), chr(13), '\r'),
      |                chr(8232), '\' || 'u2028'), chr(173), '\' || 'u00ad'),
      |                chr(65279), '\' || 'ufeff'), chr(917505), '\U000e0001') || tailq || '"',
      |              '\', '\\'), '"', '\"') || '"'
      |       ELSE '' END || '}' AS log_json
      |FROM b
      |ORDER BY doc_id""".stripMargin

  val all: Seq[Declared] = Seq(
    Declared("q12_ingest_hex", q12Hex, Some(q12HexSql)),
    Declared("q12_ingest_logentry", q12Json, Some(q12JsonSql)),
    Declared("q12_ingest_controls", q12Controls, Some(q12ControlsSql)),
    Declared("q12_ingest_quote_edges", q12QuoteEdges, Some(q12QuoteEdgesSql)),
    Declared("q12_ingest_envelope", q12Envelope, Some(q12EnvelopeSql)),
    Declared("q12_ingest_fields", q12Fields, Some(q12FieldsSql)))
}
