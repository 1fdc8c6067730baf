package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Catalyst.{column, expression}

import graft.functions.{KvParse, ParseTurn}

/** The grok/regex parse stage family. Each parser is a pure
  * `DataFrame => DataFrame` (or Column-producing) transform built from
  * codegen'd built-ins (`regexp_extract`, `rlike`, bit ops, casts) plus the
  * one custom expression ([[graft.functions.KvParse]]) Spark genuinely lacks.
  *
  * Reference semantics:
  *  - transcript grok  ≈ the parser-transform closure (cmd/freader/main.go:99-120)
  *  - audit            ≈ pkg/parser/audit/audit.go:34-78
  *  - dmesg            ≈ pkg/parser/dmesg/dmesg.go:42-122
  *  - csv type detect  ≈ pkg/parser/csv/csv.go:148-202
  */
object Parse {

  // ---------------------------------------------------------------- transcript grok

  /** Flagship parse stage over the transcript `text` column: extracts the
    * leading verb, tool invocation, duration, status, and quoted key=value
    * fields. All extraction is regexp_extract (whole-stage codegen).
    */
  def parseTurns(df: DataFrame): DataFrame = {
    // Single-pass native grok ([[graft.functions.ParseTurn]]): one byte-scan
    // + one tokenizer run per row instead of four regexp_extracts (each of
    // which pays a String+Matcher allocation — the allocation rate is what
    // stops the job scaling with cores). Whole-stage codegen CSEs the
    // repeated parse_turn(text) into one evaluation per row.
    val p = column(ParseTurn(expression(col("text"))))
    // one projection, not five chained withColumns: each withColumn is an
    // analyzed Dataset of its own, and this plan is re-built per bench
    // iteration — planning cost is part of the measured fixed per-job
    // overhead that biases the scaling ratio at short leg times
    df.select(col("*"),
      p.getField("verb").as("verb"),
      p.getField("tool").as("tool_x"),
      p.getField("dur_ms").as("dur_ms"),
      p.getField("status").as("status"),
      p.getField("kv").as("kv"))
  }

  /** Passthrough/drop wrapper, the reference's parser-transform closure
    * (cmd/freader/main.go:99-120): on parse hit emit rendered JSON, on miss
    * pass the raw line through or drop it.
    */
  def parsedOrRaw(df: DataFrame, parsed: Column, hit: Column, dropNonMatching: Boolean): DataFrame = {
    val out = when(hit, to_json(parsed)).otherwise(
      if (dropNonMatching) lit(null) else col("text"))
    df.withColumn("out", out).filter(col("out").isNotNull)
  }

  // ---------------------------------------------------------------- auditd

  private val auditHeadRe = "^type=([A-Z_]+)\\s+msg=audit\\((\\d+)\\.(\\d+):(\\d+)\\):\\s*(.*)$"
  private val auditAltRe = "^type=([A-Z_]+)\\s+(.*)$"

  /** Audit header parse (audit.go:44-78): header regex with
    * epoch.frac:serial, fractional seconds right-padded/truncated to 9
    * digits for nsec; alternate headerless form; quoted-kv fields map.
    * Adds columns: a_type, epoch_sec, epoch_nsec, serial, fields, audit_hit.
    */
  def auditParse(df: DataFrame, lineCol: String): DataFrame = {
    val t = trim(col(lineCol))
    val headHit = t.rlike(auditHeadRe)
    val altHit = t.rlike(auditAltRe)
    val frac = regexp_extract(t, auditHeadRe, 3)
    // right-pad to 9 then truncate to 9 == Go's pad/truncate normalization
    val nsec = substring(rpad(frac, 9, "0"), 1, 9).cast("long")
    val rest = when(headHit, regexp_extract(t, auditHeadRe, 5))
      .otherwise(regexp_extract(t, auditAltRe, 2))
    df
      .withColumn("audit_hit", (length(t) > 0) && (headHit || altHit))
      .withColumn("a_type",
        when(headHit, regexp_extract(t, auditHeadRe, 1))
          .when(altHit, regexp_extract(t, auditAltRe, 1)).otherwise(lit(null)))
      .withColumn("epoch_sec", when(headHit, regexp_extract(t, auditHeadRe, 2).cast("long")))
      .withColumn("epoch_nsec", when(headHit, nsec))
      .withColumn("serial", when(headHit, regexp_extract(t, auditHeadRe, 4).cast("long")))
      .withColumn("fields", when(col("audit_hit"), column(KvParse(expression(rest)))))
  }

  // ---------------------------------------------------------------- dmesg

  private val dmesgRe = "^(?:<(\\d+)>)?\\[\\s*(\\d+(?:\\.\\d+)?)]\\s*(.*)$"
  private val subsystemRe = "^([a-zA-Z][a-zA-Z0-9_-]*)\\s*.*?:"

  val knownSubsystems: Seq[String] = Seq(
    "kernel", "usb", "net", "pci", "acpi", "cpu", "memory", "disk",
    "filesystem", "block", "scsi", "ata", "sound", "input", "thermal",
    "power", "bluetooth", "wifi", "ethernet", "bridge", "firewall",
    "systemd", "docker", "kvm", "xen")

  private val priorityNames = Seq(
    "emergency", "alert", "critical", "error", "warning", "notice", "info", "debug")
  private val facilityNames = Seq(
    "kernel", "user", "mail", "daemon", "auth", "syslog", "lpr", "news",
    "uucp", "cron", "authpriv", "ftp", "ntp", "security", "console",
    "solaris-cron", "local0", "local1", "local2", "local3", "local4",
    "local5", "local6", "local7")

  /** dmesg parse (dmesg.go:54-122): `<pri>[ts] message`; priority = low 3
    * bits, facility = high bits; boot-relative ts; subsystem via regex, then
    * known-subsystem table, then contains-heuristics. Boot time optional.
    */
  def dmesgParse(df: DataFrame, lineCol: String, bootEpochSec: Option[Long] = None): DataFrame = {
    val t = trim(col(lineCol))
    val hit = t.rlike(dmesgRe)
    val priRaw = nullif(regexp_extract(t, dmesgRe, 1), lit("")).cast("int")
    val tsRel = when(hit, regexp_extract(t, dmesgRe, 2).cast("double"))
    val message = when(hit, trim(regexp_extract(t, dmesgRe, 3))).otherwise(t)
    val firstWord = lower(element_at(split(message, "\\s+"), 1))
    val subsystem = coalesce(
      nullif(regexp_extract(message, subsystemRe, 1), lit("")),
      when(firstWord.isin(knownSubsystems: _*), firstWord),
      when(message.contains("Linux version"), lit("kernel")),
      when(message.contains("systemd["), lit("systemd")),
      when(message.contains("docker"), lit("docker")),
      lit(""))
    val base = df
      .withColumn("dmesg_hit", hit)
      .withColumn("priority", when(priRaw.isNotNull, priRaw.bitwiseAND(lit(7))).otherwise(lit(0)))
      .withColumn("facility", when(priRaw.isNotNull, shiftright(priRaw, 3)).otherwise(lit(0)))
      .withColumn("ts_rel", coalesce(tsRel, lit(0.0)))
      .withColumn("message", message)
      .withColumn("subsystem", subsystem)
      .withColumn("priority_name",
        when(col("priority").between(0, priorityNames.size - 1),
          element_at(array(priorityNames.map(lit): _*), col("priority") + 1))
          .otherwise(lit("unknown")))
      .withColumn("facility_name",
        when(col("facility").between(0, facilityNames.size - 1),
          element_at(array(facilityNames.map(lit): _*), col("facility") + 1))
          .otherwise(lit("unknown")))
    bootEpochSec match {
      case Some(boot) =>
        base.withColumn("absolute_ts", timestamp_seconds(lit(boot) + col("ts_rel")))
      case None => base
    }
  }

  // ---------------------------------------------------------------- csv dynamic typing

  /** The 8 timestamp layouts of csv.go:183-192, as Spark datetime patterns. */
  private val tsFormats = Seq(
    "yyyy-MM-dd'T'HH:mm:ssXXX",       // RFC3339
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX", // RFC3339Nano (bounded precision)
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy/MM/dd HH:mm:ss",
    "MM/dd/yyyy HH:mm:ss",
    "yyyy-MM-dd",
    "MM/dd/yyyy")

  /** Go-order dynamic type detection (csv.go:148-202): bool words (note
    * "1"/"0" are bools, before ints) → int64 → float64 → 8 timestamp
    * layouts → string. Returns the detected kind as a string column —
    * the parity-relevant artifact (exact Go precedence).
    */
  def detectTypeKind(v: Column): Column = {
    val t = trim(v)
    val lower_ = lower(t)
    when(t === "", lit("empty"))
      .when(lower_.isin("true", "yes", "1", "on", "false", "no", "0", "off"), lit("bool"))
      .when(t.rlike("^[+-]?\\d+$") && try_cast(t, "long").isNotNull, lit("int"))
      .when(try_cast(t, "double").isNotNull, lit("float"))
      .when(coalesce(tsFormats.map(f => try_to_timestamp(t, lit(f))): _*).isNotNull, lit("timestamp"))
      .otherwise(lit("string"))
  }

  private def try_cast(c: Column, to: String): Column = c.try_cast(to)
  private def try_to_timestamp(c: Column, fmt: Column): Column =
    org.apache.spark.sql.functions.try_to_timestamp(c, fmt)

  /** Typed materialization of one detected value (csv.go:148-202
    * `detectType`): a struct with the detected kind plus exactly one
    * populated slot, Go precedence included ("1"/"on" are bools before
    * ints; the first matching timestamp layout wins). The columnar
    * analogue of Go's `interface{}` cell: a fixed struct instead of a
    * dynamic type, so Catalyst prunes the slots a query doesn't read.
    * Empty and unrecognized values land in `str_v` (Go returns the
    * trimmed string in both cases).
    */
  def typedValue(v0: Column): Column = {
    // Spark's csv maps empty fields to null where Go's encoding/csv yields
    // "" — normalize so both land in the 'empty' kind with str_v = ""
    val v = coalesce(v0, lit(""))
    val t = trim(v)
    val kind = detectTypeKind(v)
    struct(
      kind.as("kind"),
      when(kind === "bool", lower(t).isin("true", "yes", "1", "on")).as("bool_v"),
      when(kind === "int", try_cast(t, "long")).as("int_v"),
      when(kind === "float", try_cast(t, "double")).as("float_v"),
      when(kind === "timestamp",
        coalesce(tsFormats.map(f => try_to_timestamp(t, lit(f))): _*)).as("ts_v"),
      when(kind === "string" || kind === "empty", t).as("str_v"))
  }

  /** Proper quoted-CSV split of a single line with custom delimiter —
    * `from_csv` with an all-string schema of n generated `field_i` names
    * (csv.go:89-94), plus `extra` overflow handling is bounded by n.
    */
  def csvFields(line: Column, n: Int, delim: String = ","): Column = {
    val schema = (1 to n).map(i => s"field_$i string").mkString(", ")
    from_csv(line, org.apache.spark.sql.types.StructType.fromDDL(schema),
      Map("sep" -> delim, "ignoreLeadingWhiteSpace" -> "true"))
  }

  /** CSV line-table parse with the reference's header semantics
    * (csv.go:83-104): when `hasHeaders`, the first line (by `orderCol`)
    * names the columns and is skipped; missing names are generated as
    * `field_N`; columns beyond the header become `extra_field_N`. One tiny
    * driver-side head() fetches the header; data parsing is distributed
    * `from_csv`. `extraSlots` bounds overflow columns.
    */
  def csvTable(lines: DataFrame, lineCol: String, orderCol: String,
      delim: String = ",", hasHeaders: Boolean = true,
      customHeaders: Seq[String] = Nil, extraSlots: Int = 4): DataFrame = {
    val spark = lines.sparkSession
    // ONE tiny TakeOrdered job fetches the header line, the skip key and
    // the uniqueness witness together (was three driver jobs: head(1) for
    // the header, a min() aggregate for the skip key, and a limit(2) count
    // for the duplicate-minimum check). The header skip must drop exactly
    // ONE row; a duplicated minimum would silently swallow a data line.
    val headRows: Array[org.apache.spark.sql.Row] =
      if (!hasHeaders) Array.empty
      else lines.orderBy(col(orderCol)).select(col(orderCol), col(lineCol))
        .limit(2).collect()
    if (hasHeaders)
      require(headRows.nonEmpty &&
        (headRows.length < 2 || headRows(0).get(0) != headRows(1).get(0)),
        s"csvTable: header row must be unique by '$orderCol' " +
          s"(multiple rows share the minimum ${headRows.headOption.map(_.get(0)).orNull})")
    val headers: Seq[String] =
      if (!hasHeaders) customHeaders
      else {
        val firstLine = headRows.headOption.map(_.getString(1)).getOrElse("")
        // upper-bound field count by delimiter count (quoted delims only
        // overcount, yielding trailing nulls we drop)
        val nGuess = firstLine.count(_ == delim.head) + 1
        val row = spark.range(1).select(csvFields(lit(firstLine), nGuess, delim).as("h"))
          .select(col("h.*")).collect().head
        (0 until row.length).map(i => Option(row.getString(i)))
          .takeWhile(_.isDefined).map(_.get)
      }
    val named = headers.zipWithIndex.map { case (h, i) =>
      if (h != null && h.nonEmpty) h else s"field_${i + 1}" }
    val n = named.size + extraSlots
    val data =
      if (hasHeaders) lines.filter(col(orderCol) =!= lit(headRows(0).get(0)))
      else lines
    val f = csvFields(col(lineCol), n, delim)
    val cols = (0 until n).map { i =>
      val name = if (i < named.size) named(i) else s"extra_field_${i + 1}"
      f.getField(s"field_${i + 1}").as(name)
    }
    data.select(col(orderCol) +: cols: _*)
  }

  /** [[csvTable]] with the reference's auto-detect-types + configured
    * timestamp field (csv.go:95-131): every named column additionally
    * materializes as `<name>_typed` ([[typedValue]] struct), and when
    * `timestampField`/`timestampFormat` are configured, the companion
    * `<field>_parsed` timestamp column is added (null where the value
    * doesn't parse in that ONE format — the columnar analogue of Go's
    * absent map key; only the configured layout is tried, like
    * `time.Parse(p.timestampFormat, ...)`). STRICT parity quirk included:
    * the reference attempts the parse only when the auto-detected cell is
    * still a string (the `timestampValue.(string)` type-assert fails once
    * detectType already returned a time.Time), so a value that
    * auto-detects as a timestamp gets ts_v but NEVER `_parsed` — the gate
    * here is `kind ∈ {string, empty}`. `timestampFormat` is a Spark
    * datetime pattern — translating a Go layout is the caller's config
    * concern.
    */
  def csvTableTyped(lines: DataFrame, lineCol: String, orderCol: String,
      delim: String = ",", hasHeaders: Boolean = true,
      customHeaders: Seq[String] = Nil, extraSlots: Int = 4,
      timestampField: String = "", timestampFormat: String = "",
      autoDetectTypes: Boolean = true): DataFrame = {
    val base = csvTable(lines, lineCol, orderCol, delim, hasHeaders,
      customHeaders, extraSlots)
    val named = base.columns.filter(c => c != orderCol && !c.startsWith("extra_field_"))
    // autoDetectTypes=false: cells stay strings (csv.go:107 skips detection)
    // → no <name>_typed columns, and the ts parse is ungated
    val typed = if (!autoDetectTypes) base
      else named.foldLeft(base)((df, c) =>
        df.withColumn(s"${c}_typed", typedValue(col(c))))
    if (timestampField.nonEmpty && timestampFormat.nonEmpty &&
        named.contains(timestampField)) {
      val p = try_to_timestamp(trim(col(timestampField)), lit(timestampFormat))
      typed.withColumn(s"${timestampField}_parsed",
        if (!autoDetectTypes) p
        else when(col(s"${timestampField}_typed").getField("kind")
          .isin("string", "empty"), p))
    } else typed
  }
}
