package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** HTML / boilerplate extraction — the FIRST stage of a web-crawl
  * training-data pipeline (WARC/WET → main-content extraction), absent
  * from the reference (which has no text operators at all) and the one
  * stage the text tier previously assumed away by starting from clean
  * text.
  *
  * The corpus ships as plain text, so each document is first wrapped in
  * DETERMINISTIC synthetic page chrome (head/title, nav, a link-farm
  * promo block on every third doc, footer) — a pure string projection
  * replayed verbatim by the DuckDB oracle, which is what makes the
  * whole family hash-checkable. The extractor then runs the generic
  * boilerplate algorithm (jusText/CCNet-family heuristics) with no
  * knowledge of that structure:
  *
  *   1. strip script/style elements WITH their payloads, then HTML
  *      comments (code and commented-out markup are never content,
  *      and tags inside them must not perturb segmentation),
  *   2. segment the page into blocks at closing container tags
  *      (`</nav>|</div>|</footer>`),
  *   3. per block: tag-strip to text (quoted attribute values treated
  *      opaquely, so `href="a>b"` cannot end a tag early), count
  *      anchor text (`<a …>…</a>` spans), decode core entities
  *      one level after the strip,
  *   4. gate: a block is CONTENT iff its text is long enough
  *      ([[MinBlockChars]]) and its link density — anchor chars per
  *      text char, in exact millis — is at most
  *      [[MaxLinkDensityMilli]]; everything else is boilerplate,
  *   5. main text = surviving blocks' text, re-joined.
  *
  * Scale shape: every query is ONE scan projection — pure column
  * algebra (split / transform / filter / aggregate HOFs), no UDF, no
  * shuffle, no per-doc driver work; the only exchange anywhere is the
  * single-row corpus rollup's. At 100 TB this is the map-side pass in
  * front of [[Curation.gopherFilters]], and [[htmlGopher]] runs exactly
  * that composition (extract first, quality-gate second). */
object Html {

  /** A block shorter than this (in stripped chars) is boilerplate
    * regardless of links — page titles, button labels, nav fragments. */
  val MinBlockChars = 30

  /** Max anchor-chars per text-char, in millis: a block where more
    * than 30% of the text is link text is navigation/promo chrome. */
  val MaxLinkDensityMilli = 300L

  // --- deterministic synthetic page chrome (shared with the oracle) --
  private[operators] val Head = "<html><head><title>Doc "
  private[operators] val HeadClose = "</title></head><body>"
  private[operators] val Nav =
    """<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>"""
  private[operators] val Promo =
    """<div class="promo"><a href="/buy">Buy now</a> <a href="/deal">Deal of the day</a> <a href="/win">Win big</a></div>"""
  private[operators] val MainOpen = """<div class="main"><p>"""
  private[operators] val MainClose = "</p></div>"
  private[operators] val Footer =
    """<footer>(c) 2026 Example Corp <a href="/tos">Terms of Service</a></footer>"""
  private[operators] val Tail = "</body></html>"

  /** Every third doc gets the link-farm promo block — so the corpus
    * exercises the density gate on blocks that PASS the length gate. */
  private val PromoMod = 3L

  private val BlockSplitRe = "</nav>|</div>|</footer>"

  /** A tag, with quoted attribute values treated opaquely — an
    * attribute containing '>' (href="a>b") must not terminate the tag
    * early (the naive `<[^>]*>` fails exactly there). Alternation of
    * unquoted chars / double-quoted runs / single-quoted runs, then
    * the first unquoted '>'. Same RE2/Java semantics. */
  private val TagRe = "<(?:[^>\"']|\"[^\"]*\"|'[^']*')*>"

  /** Anchor text, with the same quoted-attribute hardening. One
    * capturing group (the text); the attr alternation is
    * non-capturing so group 1 stays the text in both engines. */
  private val AnchorRe = "<a\\s(?:[^>\"']|\"[^\"]*\"|'[^']*')*>([^<]*)</a>"

  /** Script/style elements are stripped WITH their payloads before any
    * block segmentation: their content is code, not text, and tags or
    * '<' inside it ("<script>var x = '<div>'</script>") must never
    * survive as extractable text or perturb block boundaries.
    * Non-greedy to the matching close tag, (?is) for case and
    * newlines. */
  private val ScriptRe =
    "(?is)<script\\b(?:[^>\"']|\"[^\"]*\"|'[^']*')*>.*?</script\\s*>"
  private val StyleRe =
    "(?is)<style\\b(?:[^>\"']|\"[^\"]*\"|'[^']*')*>.*?</style\\s*>"

  /** HTML comments — commented-out markup is not content. Stripped
    * after script/style (a commented script is gone either way; a
    * script containing '-->' in code must not split a comment). */
  private val CommentRe = "(?s)<!--.*?-->"

  /** Core entity decode table, applied to tag-stripped text in this
    * exact order — &amp; LAST, so double-encoded entities decode
    * exactly one level (&amp;lt; → &lt;, not <). */
  private val EntityMap = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
    "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** The entity chain as a Column transform — literal `replace`, not
    * regexp_replace: the entities are plain strings, and this chain
    * runs per BLOCK and per ANCHOR inside interpreted higher-order
    * lambdas, so seven regex-engine passes per call site were the
    * extractor's hottest line (measured per stage in r10). Identical output:
    * the same substrings replaced in the same order. */
  private def decodeEntities(c: Column): Column =
    EntityMap.foldLeft(c) { case (acc, (e, v)) =>
      org.apache.spark.sql.functions.replace(acc, lit(e), lit(v)) }

  /** Pre-segmentation cleanup: drop script/style payloads, then
    * comments. */
  private def cleanHtml(c: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(c, ScriptRe, ""), StyleRe, ""),
      CommentRe, "")

  /** The synthetic page for one document — pure column algebra. */
  private def htmlCol(docId: Column, text: Column): Column =
    concat(
      lit(Head), docId.cast("string"), lit(HeadClose),
      lit(Nav),
      when(pmod(docId, lit(PromoMod)) === 0, lit(Promo)).otherwise(lit("")),
      lit(MainOpen), coalesce(text, lit("")), lit(MainClose),
      lit(Footer), lit(Tail))

  /** Per-doc block stats: (txt, chars, anchor_chars, n_links, keep)
    * per block plus the page — the shared head of every query. Built
    * with the Column lambda API (not expr strings) so the hardened
    * regexes need no SQL-literal escaping on the Spark side; still one
    * codegen'd scan projection, zero shuffles. */
  private def blockStats(docs: DataFrame): DataFrame = {
    val anchorTexts = (b: Column) => regexp_extract_all(b, lit(AnchorRe), lit(1))
    docs
      .select(col("doc_id"), htmlCol(col("doc_id"), col("text")).as("html"))
      .withColumn("blocks", split(cleanHtml(col("html")), BlockSplitRe))
      // bind the anchor list ONCE per block before the stats struct:
      // higher-order lambdas evaluate interpreted with no subexpression
      // sharing, so referencing anchorTexts(b) twice (sum + count) ran
      // the anchor regex twice per block
      .withColumn("pre", transform(col("blocks"), b => struct(
        b.as("raw"), anchorTexts(b).as("anchors"))))
      .withColumn("bs", transform(col("pre"), p => struct(
        trim(decodeEntities(regexp_replace(p.getField("raw"), TagRe, ""))).as("txt"),
        aggregate(p.getField("anchors"), lit(0L),
          (a, x) => a + length(decodeEntities(x)).cast("long")).as("ac"),
        size(p.getField("anchors")).cast("long").as("nl"))))
      .withColumn("nonempty", filter(col("bs"),
        s => s.getField("txt") =!= lit("")))
      .withColumn("kept", filter(col("bs"), s =>
        length(s.getField("txt")).cast("long") >= lit(MinBlockChars.toLong) &&
          s.getField("ac") * lit(1000L) <=
            lit(MaxLinkDensityMilli) * length(s.getField("txt")).cast("long")))
  }

  /** Main-content extraction: segment → strip → gate → re-join. */
  def extract(spark: SparkSession, dir: String): DataFrame =
    extractOn(Tables.documents(spark, dir))

  /** Core over any (doc_id, text) frame — the seam streaming ingest
    * composes with (each arriving micro-batch is extracted before the
    * dedup gate probes it; a stateless scan, so it runs inside
    * foreachBatch unchanged). */
  private[graft] def extractOn(docs: DataFrame): DataFrame =
    blockStats(docs)
      .select(col("doc_id"),
        expr("cast(size(nonempty) as bigint)").as("n_blocks"),
        expr("cast(size(kept) as bigint)").as("n_kept"),
        expr("array_join(transform(kept, s -> s.txt), ' ')").as("main_text"))
      .withColumn("main_chars", length(col("main_text")).cast("long"))

  /** Boilerplate accounting per document: how much of the page's text
    * the gate removed, and the link mass that triggered it. */
  def boilerplate(spark: SparkSession, dir: String): DataFrame =
    boilerplateOn(Tables.documents(spark, dir))

  private[graft] def boilerplateOn(docs: DataFrame): DataFrame =
    blockStats(docs)
      .select(col("doc_id"),
        length(col("html")).cast("long").as("html_chars"),
        expr("aggregate(nonempty, 0L, (a, s) -> a + length(s.txt))").as("text_chars"),
        expr("aggregate(kept, 0L, (a, s) -> a + length(s.txt))").as("main_chars"),
        expr("aggregate(bs, 0L, (a, s) -> a + s.ac)").as("anchor_chars"),
        expr("aggregate(bs, 0L, (a, s) -> a + s.nl)").as("n_links"))
      .withColumn("boiler_chars", col("text_chars") - col("main_chars"))
      .withColumn("boiler_milli",
        expr("CASE WHEN text_chars > 0 THEN boiler_chars * 1000 div text_chars ELSE 0 END"))

  /** Corpus rollup — the boilerplate-fraction report a crawl run logs
    * per snapshot: total text in vs content out, and how many pages
    * had no extractable content at all. */
  def report(spark: SparkSession, dir: String): DataFrame =
    boilerplate(spark, dir)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("text_chars")).as("text_chars"),
        sum(col("boiler_chars")).as("boiler_chars"),
        sum(when(col("main_chars") === 0, 1L).otherwise(0L)).as("n_empty_docs"))
      .withColumn("boiler_milli",
        expr("boiler_chars * 1000 div text_chars"))

  /** The composed crawl-pipeline stage pair: extraction feeding the
    * Gopher quality gate — [[Curation.gopherOn]] over the extracted
    * main text instead of raw document text. */
  def htmlGopher(spark: SparkSession, dir: String): DataFrame =
    Curation.gopherOn(extract(spark, dir), col("main_text"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_html_extract" -> ((s, d) => extract(s, d)),
    "text_html_boilerplate" -> ((s, d) => boilerplate(s, d)),
    "text_html_report" -> ((s, d) => report(s, d)),
    "text_html_gopher" -> ((s, d) => htmlGopher(s, d)))

  // ------------------------------------------------------------ oracle

  private def esc(s: String): String = s.replace("'", "''")

  /** The page build in DuckDB — byte-identical to [[htmlCol]]. */
  private val htmlSql: String =
    s"'${esc(Head)}' || doc_id || '${esc(HeadClose)}' || '${esc(Nav)}' || " +
      s"(CASE WHEN doc_id % $PromoMod = 0 THEN '${esc(Promo)}' ELSE '' END) || " +
      s"'${esc(MainOpen)}' || coalesce(text, '') || '${esc(MainClose)}' || " +
      s"'${esc(Footer)}' || '${esc(Tail)}'"

  /** The entity chain in DuckDB (plain replace — same literals, same
    * order, &amp; last). */
  private def decodeSqlD(inner: String): String =
    EntityMap.foldLeft(inner) { case (acc, (e, v)) =>
      s"replace($acc, '${esc(e)}', '${esc(v)}')" }

  /** Block stats CTE chain shared by the oracle queries — replays the
    * hardened pipeline exactly: script/style payloads, then comments,
    * stripped before segmentation; quoted-attribute-safe tag strip;
    * entity decode after the strip. list_sum of an empty list is NULL
    * in DuckDB (Spark's aggregate seeds 0) — every fold is coalesced. */
  private val blockCte: String =
    s"""h AS (SELECT doc_id, $htmlSql AS html FROM documents),
       |hc AS (SELECT doc_id, html,
       |    regexp_replace(regexp_replace(regexp_replace(html,
       |      '${esc(ScriptRe)}', '', 'g'),
       |      '${esc(StyleRe)}', '', 'g'),
       |      '${esc(CommentRe)}', '', 'g') AS clean
       |  FROM h),
       |b AS (SELECT doc_id, html,
       |    list_transform(regexp_split_to_array(clean, '$BlockSplitRe'),
       |      blk -> struct_pack(
       |        txt := trim(${decodeSqlD(s"regexp_replace(blk, '${esc(TagRe)}', '', 'g')")}),
       |        ac := coalesce(list_sum(list_transform(
       |                regexp_extract_all(blk, '${esc(AnchorRe)}', 1),
       |                x -> length(${decodeSqlD("x")})::BIGINT)), 0)::BIGINT,
       |        nl := len(regexp_extract_all(blk, '${esc(AnchorRe)}', 1))::BIGINT)) AS bs
       |  FROM hc),
       |k AS (SELECT doc_id, html,
       |    list_filter(bs, s -> s.txt <> '') AS nonempty,
       |    list_filter(bs, s -> length(s.txt) >= $MinBlockChars
       |      AND s.ac * 1000 <= $MaxLinkDensityMilli * length(s.txt)) AS kept,
       |    bs
       |  FROM b)""".stripMargin

  private val boilerSelect: String =
    s"""SELECT doc_id,
       |  length(html)::BIGINT AS html_chars,
       |  coalesce(list_sum(list_transform(nonempty, s -> length(s.txt)::BIGINT)), 0)::BIGINT AS text_chars,
       |  coalesce(list_sum(list_transform(kept, s -> length(s.txt)::BIGINT)), 0)::BIGINT AS main_chars,
       |  coalesce(list_sum(list_transform(bs, s -> s.ac)), 0)::BIGINT AS anchor_chars,
       |  coalesce(list_sum(list_transform(bs, s -> s.nl)), 0)::BIGINT AS n_links
       |FROM k""".stripMargin

  val oracle: Map[String, String] = Map(
    "text_html_extract" ->
      s"""WITH $blockCte
         |SELECT doc_id,
         |  len(nonempty)::BIGINT AS n_blocks,
         |  len(kept)::BIGINT AS n_kept,
         |  array_to_string(list_transform(kept, s -> s.txt), ' ') AS main_text,
         |  length(array_to_string(list_transform(kept, s -> s.txt), ' '))::BIGINT AS main_chars
         |FROM k ORDER BY doc_id""".stripMargin,
    "text_html_boilerplate" ->
      s"""WITH $blockCte,
         |m AS ($boilerSelect)
         |SELECT doc_id, html_chars, text_chars, main_chars, anchor_chars,
         |  n_links,
         |  (text_chars - main_chars)::BIGINT AS boiler_chars,
         |  (CASE WHEN text_chars > 0
         |        THEN (text_chars - main_chars) * 1000 // text_chars
         |        ELSE 0 END)::BIGINT AS boiler_milli
         |FROM m ORDER BY doc_id""".stripMargin,
    "text_html_report" ->
      s"""WITH $blockCte,
         |m AS ($boilerSelect)
         |SELECT count(*)::BIGINT AS n_docs,
         |  sum(text_chars)::BIGINT AS text_chars,
         |  sum(text_chars - main_chars)::BIGINT AS boiler_chars,
         |  sum(CASE WHEN main_chars = 0 THEN 1 ELSE 0 END)::BIGINT AS n_empty_docs,
         |  (sum(text_chars - main_chars) * 1000 // sum(text_chars))::BIGINT AS boiler_milli
         |FROM m""".stripMargin,
    "text_html_gopher" ->
      s"""WITH $gopherCtes
         |SELECT doc_id, n_words, mean_len_milli, diversity_milli,
         |  stop_hits, alpha_frac_milli, keep
         |FROM gv ORDER BY doc_id""".stripMargin)

  /** Extraction CTEs exposed for composed-pipeline oracles: `mt` is
    * (doc_id, main_text) for EVERY document. */
  private[operators] lazy val extractionCtes: String =
    s"""$blockCte,
       |mt AS (SELECT doc_id,
       |    array_to_string(list_transform(kept, s -> s.txt), ' ') AS main_text
       |  FROM k)""".stripMargin

  /** Extraction + Gopher verdict CTEs: `gv` is the per-doc quality
    * frame (n_words, milli features, keep) over the extracted main
    * text — the shared tail of text_html_gopher, pipeline_crawl, and
    * the composed ingest-gate oracle. */
  private[operators] lazy val gopherCtes: String =
    s"""$extractionCtes,
       |gt AS (SELECT doc_id, list_filter(string_split(main_text, ' '), x -> x <> '') AS toks FROM mt),
       |gf AS (SELECT doc_id,
       |    len(toks)::BIGINT AS n_words,
       |    coalesce(list_sum(list_transform(toks, x -> length(x)::BIGINT)), 0)::BIGINT AS sum_len,
       |    len(list_distinct(toks))::BIGINT AS n_distinct,
       |    len(list_filter(toks, x -> x IN (${Curation.stopEnSql})))::BIGINT AS stop_hits,
       |    len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+${"$"}')))::BIGINT AS n_alpha
       |  FROM gt),
       |gv AS (SELECT doc_id, n_words, mean_len_milli, diversity_milli,
       |    stop_hits, alpha_frac_milli,
       |    (n_words BETWEEN 30 AND 100000
       |      AND mean_len_milli BETWEEN 3000 AND 10000
       |      AND diversity_milli >= 350
       |      AND stop_hits >= 2
       |      AND alpha_frac_milli >= 800) AS keep
       |  FROM (SELECT doc_id, n_words, sum_len, n_distinct, stop_hits, n_alpha,
       |      (CASE WHEN n_words > 0 THEN sum_len * 1000 // n_words ELSE 0 END)::BIGINT AS mean_len_milli,
       |      (CASE WHEN n_words > 0 THEN n_distinct * 1000 // n_words ELSE 0 END)::BIGINT AS diversity_milli,
       |      (CASE WHEN n_words > 0 THEN n_alpha * 1000 // n_words ELSE 0 END)::BIGINT AS alpha_frac_milli
       |    FROM gf) t)""".stripMargin
}
