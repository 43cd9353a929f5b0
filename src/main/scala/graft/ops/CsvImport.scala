package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV → all-string-columns dataset, mirroring the reference's csvimport
  * (standard_methods/a_csvimport.py:58-342, csvimport.py:173-570):
  * any single-char separator (or none), quote modes, comment char,
  * skip_lines, skip_empty_lines, labels from first line or supplied,
  * rename/discard, allow_bad → separate `bad` dataset (lineno, data),
  * optional lineno column.
  *
  * The reference explicitly does NOT support multi-line quoted fields
  * (a_csvimport.py docstring), so line-based splitting is semantically
  * faithful — and it makes the parse embarrassingly parallel: Spark splits
  * the file into ranges, each task parses its lines independently. Line
  * numbers come from `zipWithIndex` (one lightweight extra job to count
  * per-partition offsets — still a single pass over the data at scale;
  * .gz inputs are non-splittable single-partition, same as the reference's
  * one reader process).
  *
  * Parse results:
  *  - `data`: one StringType column per kept label (+ optional lineno)
  *  - `bad`: rows whose field count mismatches (lineno, data) — only
  *    populated when `allowBad`, otherwise a mismatch throws
  *  - `skipped`: the lines dropped by skipLines/comment/empty rules
  */
final case class CsvImportResult(data: DataFrame, bad: DataFrame, skipped: DataFrame,
    private val cached: Option[org.apache.spark.rdd.RDD[_]] = None) {
  /** Release the parsed-line cache (held when allowBad=false forced an
    * eager validation scan — without it the file would be parsed three
    * times: lineno job, validation, consumption).
    */
  def release(): Unit = cached.foreach(_.unpersist(blocking = false))
}

final case class CsvImportConfig(
    separator: String = ",",            // "" = whole line is one field
    quotes: String = "\"",              // "" = no quoting; "both" = ' and "
    comment: String = "",                // lines starting with this are skipped
    skipLines: Int = 0,
    skipEmptyLines: Boolean = false,
    labels: Seq[String] = Nil,           // empty = first (post-skip) line
    rename: Map[String, String] = Map.empty,
    discard: Set[String] = Set.empty,
    allowBad: Boolean = false,
    allowExtraEmpty: Boolean = false,    // trailing empty fields tolerated
    linenoLabel: Option[String] = None,
    newline: String = "",                // "" = \n or \r\n; else any custom
                                         // record separator (incl. "\u0000",
                                         // reference csvimport.py:173-300)
    encoding: String = "utf-8",          // charset each line decodes with;
                                         // "bytes" = byte-preserving
                                         // iso-8859-1 (the reference's
                                         // bytes-in/type-later model —
                                         // csvimport.py:173-300 never
                                         // decodes; dataset_type
                                         // `unicode:<enc>` decodes later)
    encodingErrors: String = "strict")   // strict = undecodable line → bad
                                         // (never silently corrupted);
                                         // replace = U+FFFD; ignore = drop
                                         // bad bytes

object CsvImport {

  /** Quote-aware single-line field split (reference csvimport.py:353-570):
    * a field is quoted iff it *starts* with a quote char; doubled quotes
    * escape; the closing quote must be followed by separator or EOL.
    */
  private[graft] def splitLine(line: String, sep: Char, quoteChars: Set[Char]): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val n = line.length
    var i = 0
    while (i <= n) {
      if (i == n) { // trailing empty field after final separator
        out += ""
        i += 1
      } else if (quoteChars.contains(line.charAt(i))) {
        val q = line.charAt(i)
        val sb = new StringBuilder
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          if (line.charAt(j) == q) {
            if (j + 1 < n && line.charAt(j + 1) == q) { sb += q; j += 2 }
            else { closed = true; j += 1 }
          } else { sb += line.charAt(j); j += 1 }
        }
        if (closed && (j == n || line.charAt(j) == sep)) {
          out += sb.toString
          i = j + 1
          if (j == n) i = n + 1
        } else {
          // unterminated / bad quote → treat rest as raw field (ref: bad line
          // handling happens at field-count level)
          val end = line.indexOf(sep, i) match { case -1 => n; case k => k }
          out += line.substring(i, end)
          i = end + 1
          if (end == n) i = n + 1
        }
      } else {
        val end = line.indexOf(sep, i) match { case -1 => n; case k => k }
        out += line.substring(i, end)
        i = end + 1
        if (end == n) i = n + 1
      }
    }
    out.toArray
  }

  /** Per-line decoder for `encoding`/`encodingErrors`. Returns the decoded
    * line and ok=true, or — strict mode only — the byte-preserving latin-1
    * rendering and ok=false (the raw bytes survive into the `bad` dataset
    * instead of being silently mangled). Builds one CharsetDecoder per
    * partition (stateful, not thread-safe).
    */
  private[graft] def lineDecoder(encoding: String, errors: String): Array[Byte] => (String, Boolean) = {
    import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
    require(Seq("strict", "replace", "ignore").contains(errors),
      s"csvimport: encodingErrors must be strict/replace/ignore, got '$errors'")
    val cs =
      if (encoding.equalsIgnoreCase("bytes")) StandardCharsets.ISO_8859_1
      else Charset.forName(encoding) // fail fast on unknown charset
    // record splitting happens at the BYTE level before decoding — only
    // ASCII-superset charsets survive that (utf-16 etc. would have their
    // code units sliced mid-character and decode to garbage line by line)
    require(new String("A\n,0".getBytes(StandardCharsets.US_ASCII), cs) == "A\n,0",
      s"csvimport: charset $encoding is not an ASCII superset — " +
      "byte-level record splitting would corrupt it (use utf-8, latin-1, " +
      "any 8-bit ASCII-superset charset, or encoding=\"bytes\")")
    if (cs == StandardCharsets.ISO_8859_1) {
      // byte-preserving fast path: latin-1 maps bytes 0..255 bijectively to
      // U+0000..U+00FF — cannot fail, nothing is ever corrupted
      b => (new String(b, StandardCharsets.ISO_8859_1), true)
    } else {
      val action = errors match {
        case "replace" => CodingErrorAction.REPLACE
        case "ignore"  => CodingErrorAction.IGNORE
        case _         => CodingErrorAction.REPORT
      }
      val dec = cs.newDecoder().onMalformedInput(action).onUnmappableCharacter(action)
      b =>
        try {
          dec.reset()
          (dec.decode(java.nio.ByteBuffer.wrap(b)).toString, true)
        } catch {
          case _: java.nio.charset.CharacterCodingException =>
            (new String(b, StandardCharsets.ISO_8859_1), false)
        }
    }
  }

  def apply(spark: SparkSession, path: String, cfg: CsvImportConfig = CsvImportConfig()): CsvImportResult = {
    val sc = spark.sparkContext
    // Read raw BYTES through the Hadoop line reader and decode each line
    // with the configured charset — sc.textFile / the text datasource
    // UTF-8-decode with replacement characters, which silently corrupts any
    // non-UTF-8 file (the reference is byte-faithful end-to-end,
    // csvimport.py:173-300). Splitting on \n / \r\n (or the custom record
    // delimiter) happens at the byte level, before any decoding — identical
    // to the reference's model and safe for every ASCII-superset charset.
    lineDecoder(cfg.encoding, cfg.encodingErrors) // validate driver-side
    val hconf = new org.apache.hadoop.conf.Configuration(sc.hadoopConfiguration)
    if (cfg.newline.nonEmpty) {
      // Hadoop UTF-8-encodes the delimiter; a char ≥ 0x80 would become
      // multi-byte and never match latin-1/bytes-mode file bytes. ASCII
      // delimiter bytes are identical in every charset we accept
      // (ASCII supersets — enforced above), so restrict to ASCII unless
      // the file itself is UTF-8.
      require(cfg.encoding.equalsIgnoreCase("utf-8") || cfg.newline.forall(_ < 0x80),
        s"csvimport: custom newline must be ASCII with encoding=${cfg.encoding} " +
        "(the byte-level record splitter matches the delimiter's UTF-8 bytes)")
      hconf.set("textinputformat.record.delimiter", cfg.newline)
    }
    val byteLines = sc.newAPIHadoopFile(path,
        classOf[org.apache.hadoop.mapreduce.lib.input.TextInputFormat],
        classOf[org.apache.hadoop.io.LongWritable],
        classOf[org.apache.hadoop.io.Text], hconf)
      // Text is REUSED by the record reader — copy before anything caches
      .map { case (_, t) => java.util.Arrays.copyOfRange(t.getBytes, 0, t.getLength) }
    val encoding = cfg.encoding
    val errors = cfg.encodingErrors
    // (lineno, rendered line, decoded ok)
    val raw = byteLines.zipWithIndex().mapPartitions { it =>
      val dec = lineDecoder(encoding, errors)
      it.map { case (b, i) => val (s, ok) = dec(b); (i, s, ok) }
    }

    val quoteChars: Set[Char] = cfg.quotes match {
      case ""     => Set.empty
      case "both" => Set('\'', '"')
      case q      => Set(q.charAt(0))
    }
    val sep0 = cfg.separator
    val comment = cfg.comment
    val skipN = cfg.skipLines.toLong
    val skipEmpty = cfg.skipEmptyLines

    // Label resolution: either supplied, or the first non-skipped line.
    // zipWithIndex assigns indices consecutively in partition order, so the
    // earliest non-empty partition (post-skip) holds the minimum index —
    // probe partitions in order and stop at the first hit. Reads ONE
    // partition in the common case instead of range-partitioning the whole
    // file to fetch one line (a full extra 100 TB scan).
    val (labels0, headerLineno): (Seq[String], Long) =
      if (cfg.labels.nonEmpty) (cfg.labels, -1L)
      else {
        // the header is the first line that survives ALL skip rules —
        // skipLines AND comment AND empty (reference csvimport reads
        // labels after comment/empty filtering; a leading "# …" line must
        // not become the label row). Decode failure does NOT skip it:
        // silently promoting the next decodable DATA row to label row
        // would mislabel every column — an undecodable header is a config
        // error raised below, even with allowBad=true.
        val cand = raw.filter { case (ln, l, _) =>
          ln >= skipN &&
          !(comment.nonEmpty && l.startsWith(comment)) &&
          !(skipEmpty && l.isEmpty)
        }
        var hdr: Option[(Long, String, Boolean)] = None
        var p = 0
        val nParts = cand.getNumPartitions
        while (hdr.isEmpty && p < nParts) {
          val res = sc.runJob(cand,
            (it: Iterator[(Long, String, Boolean)]) => it.take(1).toArray, Seq(p))
          hdr = res.flatten.headOption
          p += 1
        }
        require(hdr.nonEmpty, s"csvimport: no header line in $path")
        val (ln, line, hdrOk) = hdr.get
        require(hdrOk,
          s"csvimport: header line (lineno $ln) does not decode with " +
          s"encoding=${cfg.encoding} — fix the encoding or pass labels= explicitly")
        val fields =
          if (sep0.isEmpty) Array(line)
          else splitLine(line, sep0.charAt(0), quoteChars)
        (fields.toSeq, ln)
      }
    val renamed = labels0.map(l => cfg.rename.getOrElse(l, l))
    require(renamed.distinct.size == renamed.size,
      s"csvimport: duplicate labels after rename: $renamed")
    val keepIdx = renamed.zipWithIndex.filterNot { case (l, _) => cfg.discard.contains(l) }
    val keptLabels = keepIdx.map(_._1)
    val nExpected = labels0.size

    val isSkipped = (lineno: Long, line: String) =>
      lineno < skipN || lineno == headerLineno ||
      (comment.nonEmpty && line.startsWith(comment)) ||
      (skipEmpty && line.isEmpty)

    val skippedRdd = raw.filter { case (ln, l, _) => isSkipped(ln, l) && ln != headerLineno }
    val bodyRdd = raw.filter { case (ln, l, _) => !isSkipped(ln, l) }

    val allowExtraEmpty = cfg.allowExtraEmpty
    // a line that failed strict decode is a bad line: fields = null marks it
    // (its latin-1 rendering flows into the bad dataset's data column)
    val parsed0 = bodyRdd.map { case (ln, line, ok) =>
      var fields =
        if (!ok) null
        else if (sep0.isEmpty) Array(line)
        else splitLine(line, sep0.charAt(0), quoteChars)
      if (fields != null && allowExtraEmpty && fields.length > nExpected &&
          fields.drop(nExpected).forall(_.isEmpty))
        fields = fields.take(nExpected)
      (ln, line, fields)
    }
    // allowBad=false runs an eager validation job below (one job over
    // all partitions); without a cache that job plus the caller's
    // consumption parses the whole file again — cache (spilling) so the
    // parse happens once, released via CsvImportResult.release()
    val parsed =
      if (!cfg.allowBad)
        parsed0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else parsed0

    val goodRdd = parsed
      .filter(t => t._3 != null && t._3.length == nExpected)
      .map { case (ln, _, f) =>
        Row.fromSeq(ln +: keepIdx.map { case (_, i) => f(i) })
      }
    val badRdd = parsed.filter(t => t._3 == null || t._3.length != nExpected)
      .map { case (ln, line, _) => Row(ln, line) }

    val dataSchema = StructType(
      StructField("__lineno", LongType, nullable = false) +:
      keptLabels.map(l => StructField(l, StringType, nullable = true)))
    val badSchema = StructType(Seq(
      StructField("lineno", LongType, nullable = false),
      StructField("data", StringType, nullable = true)))

    val dataAll = spark.createDataFrame(goodRdd, dataSchema)
    val data = cfg.linenoLabel match {
      case Some(l) => dataAll.withColumnRenamed("__lineno", l)
      case None    => dataAll.drop("__lineno")
    }
    val bad = spark.createDataFrame(badRdd, badSchema)
    if (!cfg.allowBad) {
      // one job over every partition, each stopping at its first bad line
      // (a DataFrame limit(1).count() costs two jobs under AQE)
      val anyBad = spark.sparkContext.runJob(badRdd, (it: Iterator[Row]) => it.hasNext)
      require(!anyBad.contains(true), s"csvimport: bad lines in $path (allowBad=false)")
    }
    val skipped = spark.createDataFrame(
      skippedRdd.map { case (ln, l, _) => Row(ln, l) }, badSchema)
    CsvImportResult(data, bad, skipped,
      cached = if (cfg.allowBad) None else Some(parsed))
  }
}
