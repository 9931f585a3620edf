package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** URL canonicalization + collapse — the first dedup any web-crawl
  * pipeline runs, BEFORE content hashing: the same page arrives under
  * scheme-case, `www.`, trailing-slash, tracking-parameter, parameter-
  * order and fragment variants, and canonicalizing collapses them
  * without touching document content at all.
  *
  * Rules (each a pure string expression, identical in the oracle):
  * fragment dropped; scheme dropped (case-insensitively); host
  * lowercased and `www.`-stripped; trailing path slashes stripped;
  * tracking params (`utm_*`, `ref=`) dropped; surviving params sorted.
  *
  * 100 TB shape: canonicalization is a MAP — zero shuffles until the
  * final collapse groupBy on the canonical key (one partial-agg
  * exchange); the cluster report is one row per canonical URL, linear
  * in output. The documents table carries no URL column, so the raw URL
  * is derived deterministically from (doc_id, source) — the q108
  * CORRUPT convention: a closed-form fixture both engines synthesize
  * identically, planting every variant class the canonicalizer claims
  * to collapse (groups of doc_id div 5 share a page; scheme case,
  * www/COM casing, trailing slash, tracker-vs-clean query strings and
  * fragments all vary WITHIN a group by doc_id residues).
  */
object Web {
  import Tables._

  /** Canonical form of a URL column: scheme/fragment/trackers dropped,
    * host lowercased minus `www.`, trailing slash trimmed, surviving
    * query params sorted. */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val noScheme = regexp_replace(noFrag, "^(?i)https?://", "")
    val base = substring_index(noScheme, "?", 1)
    val query = when(instr(noScheme, "?") > 0,
      substr(noScheme, instr(noScheme, "?") + 1)).otherwise(lit(""))
    val host = lower(substring_index(base, "/", 1))
    val host2 = regexp_replace(host, "^www\\.", "")
    val path = substr(base, length(substring_index(base, "/", 1)) + 1)
    val path2 = regexp_replace(path, "/+$", "")
    val kept = array_sort(filter(split(query, "&"), p =>
      p =!= "" && !p.startsWith("utm_") && !p.startsWith("ref=")))
    concat(host2, path2,
      when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
        .otherwise(lit("")))
  }

  /** The deterministic raw-URL fixture (same expression in the oracle). */
  private[graft] def rawUrl(docId: Column, source: Column): Column =
    concat(
      when(docId % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
      when(docId % 3 === 0, concat(lit("WWW."), upper(source), lit(".COM")))
        .otherwise(concat(source, lit(".com"))),
      lit("/docs/"), (docId.cast("long") / 5).cast("long").cast("string"),
      when(docId % 4 === 0, lit("/")).otherwise(lit("")),
      when(docId % 2 === 0, lit("?utm_source=feed&b=1&a=2"))
        .otherwise(lit("?a=2&b=1&utm_campaign=x")),
      when(docId % 7 === 0, lit("#sec")).otherwise(lit("")))

  /** [[rawUrl]] as a DuckDB expression over (doc_id, source) — shared
    * with the q171 WARC oracle's expected Target-URI. */
  private[graft] val RAW_URL_SQL =
    """(CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END) ||
       (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' || upper(source) || '.COM'
             ELSE source || '.com' END) ||
       '/docs/' || CAST(doc_id // 5 AS VARCHAR) ||
       (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
       (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=1&a=2'
             ELSE '?a=2&b=1&utm_campaign=x' END) ||
       (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END)"""

  private val ORACLE = """
    WITH raw AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END) ||
        (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' || upper(source) || '.COM'
              ELSE source || '.com' END) ||
        '/docs/' || CAST(doc_id // 5 AS VARCHAR) ||
        (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
        (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=1&a=2'
              ELSE '?a=2&b=1&utm_campaign=x' END) ||
        (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END) AS url
      FROM documents),
    parts AS (
      SELECT doc_id, url,
             regexp_replace(regexp_replace(url, '#.*$', ''),
               '^(?i)https?://', '') AS ns
      FROM raw),
    split AS (
      SELECT doc_id, url,
             split_part(ns, '?', 1) AS base,
             CASE WHEN strpos(ns, '?') > 0
                  THEN substr(ns, strpos(ns, '?') + 1) ELSE '' END AS q
      FROM parts),
    canon AS (
      SELECT doc_id, url,
        regexp_replace(lower(split_part(base, '/', 1)), '^www\.', '') ||
        regexp_replace(substr(base, length(split_part(base, '/', 1)) + 1),
          '/+$', '') ||
        (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
              ELSE '' END) AS canon_url
      FROM (SELECT doc_id, url, base,
              list_sort(list_filter(string_split(q, '&'), p ->
                p <> '' AND NOT starts_with(p, 'utm_')
                       AND NOT starts_with(p, 'ref='))) AS kept
            FROM split))
    SELECT canon_url,
           count(*) AS n_docs,
           count(DISTINCT url) AS n_raw_variants,
           min(doc_id) AS survivor
    FROM canon
    GROUP BY 1"""

  // ------------------------------------------------------------------
  // HTML boilerplate removal / main-content extraction (jusText shape:
  // Pomikalek 2011, "Removing boilerplate and duplicate content from web
  // corpora" — the public algorithm CCNet/C4/FineWeb-style corpora run
  // before any text operator sees a document).
  //
  // Shape: (1) drop script/style/comment subtrees; (2) segment on
  // block-level tags; (3) per block, strip inline tags + decode the
  // basic entities and compute link density (chars of <a> text / block
  // chars) and stopword density; (4) context-free classify each block
  // bad / short / neargood / good on integer-exact threshold ratios;
  // (5) context pass: short and neargood blocks resolve against the
  // nearest context-free-decided (good/bad) neighbours, edges defaulting
  // to bad — the engine's documented simplification of jusText's
  // revision step (neargood promotes on EITHER neighbour good, short
  // needs BOTH).
  //
  // 100 TB shape: the ENTIRE pipeline — parse, feature extraction, both
  // classification passes — runs in the array domain of one projection
  // (higher-order functions over the per-doc block array; the context
  // pass is a running fold, not a window), so the plan is scan ->
  // project -> generate with ZERO exchanges; it composes map-side with
  // the q161 funnel the way extraction precedes curation in production.
  //
  // Thresholds are integer ratios (no float classification boundaries,
  // engine-exact in DuckDB): link-density bad above 1/5, stopword
  // neargood at >= 1/25, good at >= 2/25 with > 20 words, short below 8
  // words. The stopword cuts are calibrated to THIS corpus's density
  // distribution (synthetic vocab: median ~0.055, p75 ~0.09 — jusText's
  // English defaults of 0.30/0.32 would classify every block bad).
  // ------------------------------------------------------------------

  /** Tags that terminate a text block (jusText segments on these);
    * inline markup (<a>, <b>, <i>, <span>, ...) stays inside its block.
    * A RUN of two-plus <br> acts as a paragraph break (the old-style-HTML
    * convention jusText honors); a single <br> is a soft wrap and stays
    * inside its block (the inner-text strip turns it into a space). */
  private val BLOCK_SPLIT =
    "(?i)(?:<br\\b[^>]*>\\s*){2,}|" +
      "</?(?:p|div|h[1-6]|ul|ol|li|table|thead|tbody|tr|td|th|blockquote|" +
      "article|section|header|footer|nav|main|aside|html|head|body|title|form)\\b[^>]*>"

  private val W_LOW = 8 // words; below => short (jusText length_low)
  private val W_HIGH = 20 // words; stopword-rich above => good (length_high)

  /** script/style subtrees and comments vanish BEFORE block segmentation
    * (their contents are code, not content). */
  private[graft] def stripHtmlChrome(html: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(html,
      "(?is)<script\\b[^>]*>.*?</script>", " "),
      "(?is)<style\\b[^>]*>.*?</style>", " "),
      "(?s)<!--.*?-->", " ")

  /** Numeric character references this extractor decodes: decimal
    * `&#NNNN;` and hex `&#xHHHH;`, digit counts bounded so anything
    * longer stays literal text (bounds cover the whole BMP with slack
    * for leading zeros; a cast can then never overflow). The SAME
    * constant drives both the ref extraction and the segment split, so
    * the two arrays align positionally by construction. */
  private val CHARREF = "&#(?:[xX][0-9a-fA-F]{1,6}|[0-9]{1,8});"

  /** The single BMP character of a codepoint column, built as UTF-8
    * bytes in hex and decoded — pure built-in functions (hex/unhex/
    * decode), codegen-friendly, no UDF. Spark's own `chr` is mod-256
    * (ASCII-era semantics), hence the byte construction. Caller guards
    * the printable-BMP range; this assumes 0 <= cp <= 0xFFFF. */
  private def codepointChar(cp: Column): Column = {
    def hx(b: Column) = lpad(hex(b), 2, "0")
    val one = hx(cp)
    val two = concat(hx(shiftright(cp, 6) + lit(0xC0L)),
      hx(cp.bitwiseAND(lit(0x3FL)) + lit(0x80L)))
    val three = concat(hx(shiftright(cp, 12) + lit(0xE0L)),
      hx(shiftright(cp, 6).bitwiseAND(lit(0x3FL)) + lit(0x80L)),
      hx(cp.bitwiseAND(lit(0x3FL)) + lit(0x80L)))
    decode(unhex(when(cp < 0x80, one).when(cp < 0x800, two).otherwise(three)),
      "UTF-8")
  }

  /** Decoded character of one matched [[CHARREF]] token, or the literal
    * token itself outside the printable BMP (cp < 32, surrogates
    * D800-DFFF, and anything past FFFD stay as written — the jusText
    * corpora convention: an out-of-range ref is content noise, not a
    * character the length/density features should count as one). */
  private def charrefChar(ref: Column): Column = {
    val isHex = substring(ref, 3, 1).isin("x", "X")
    val cp = when(isHex,
        conv(ref.substr(lit(4), length(ref) - 4), 16, 10).cast("long"))
      .otherwise(ref.substr(lit(3), length(ref) - 3).cast("long"))
    val printable = cp >= 32 && cp <= 0xFFFD &&
      !(cp >= 0xD800 && cp <= 0xDFFF)
    when(printable, codepointChar(cp)).otherwise(ref)
  }

  /** Visible text of an HTML fragment: inline tags out, numeric charrefs
    * (`&#8217;` / `&#x2019;`) decoded for the printable BMP, the five
    * basic named entities decoded (&amp; LAST so double-escapes don't
    * cascade), whitespace collapsed. The numeric pass runs BEFORE the
    * named pass for the same non-cascade reason: `&amp;#8217;` must
    * surface as the literal text `&#8217;`, so the numeric decoder must
    * never see the post-`&amp;` form. Decode shape: extract all refs +
    * split on the same pattern, then stitch segment/char/segment — one
    * zip_with fold, no per-ref regexp passes. A deliberate regex-level
    * extractor: attribute values containing '>' are out of scope
    * (documented, spec-pinned). */
  /** Numeric-charref decode of one string column: every [[CHARREF]]
    * match (`&#NNNN;` / `&#xHHHH;`) becomes its character for the
    * printable BMP ([[charrefChar]] — out-of-range refs stay literal).
    * Decode shape: extract all refs + split on the same pattern, then
    * stitch segment/char/segment — one zip_with fold, no per-ref
    * regexp passes. Behind the cheap instr guard ("&#" is necessary
    * for any match; recovered ~25% of q168's cost when introduced).
    * Shared by [[htmlInnerText]] and the sitemap loc decode (r19 —
    * sitemap locs are XML-escaped URLs and real files carry
    * `&#38;`-style refs alongside the named entities).
    *
    * DOCUMENTED DIVERGENCE (advisor r19): callers run this numeric
    * pass and then their NAMED-entity passes as layered replaces, not
    * one single-pass tokenizer — so an input whose numeric decode
    * MANUFACTURES a named entity decodes twice: `&#38;lt;` → `&lt;` →
    * `<`, where a spec single-pass decoder stops at the literal
    * `&lt;`. Ordering numeric-first keeps the common cascades right
    * (`&amp;#38;` stays the literal `&#38;`), the property suites
    * exclude exactly this one corner, and no fixture nor any sane
    * document depends on it; a caller needing exact single-pass
    * semantics must tokenize once over `&#\\d+;|&[a-z]+;|.` instead of
    * layering replaces. */
  private[graft] def decodeCharrefs(c: Column): Column = {
    val refs = regexp_extract_all(c, lit(CHARREF), lit(0))
    val segs = split(c, CHARREF, -1)
    when(instr(c, "&#") === 0, c)
      .otherwise(concat(element_at(segs, 1),
        aggregate(
          zip_with(refs, slice(segs, lit(2), size(refs)), (r, s2) =>
            concat(charrefChar(r), s2)),
          lit(""), (a, x) => concat(a, x))))
  }

  private[graft] def htmlInnerText(frag: Column): Column = {
    val untag = regexp_replace(frag, "<[^>]*>", " ")
    val numDecoded = decodeCharrefs(untag)
    // &#39; needs no named entry: the numeric pass above covers it
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(numDecoded) { case (c, (ent, ch)) => regexp_replace(c, ent, ch) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Total visible chars inside <a> elements of a fragment — the link
    * numerator of jusText's link density. */
  private[graft] def linkInnerChars(frag: Column): Column =
    coalesce(aggregate(
      transform(regexp_extract_all(frag, lit("(?is)<a\\b[^>]*>(.*?)</a>"), lit(1)),
        l => length(htmlInnerText(l))),
      lit(0), (acc, x) => acc + x), lit(0))

  /** Non-empty text blocks of an HTML document, in document order, each
    * with its visible text and link-char count. */
  def htmlBlocks(html: Column): Column =
    filter(transform(split(stripHtmlChrome(html), BLOCK_SPLIT), b =>
        struct(htmlInnerText(b).as("text"), linkInnerChars(b).as("link_chars"))),
      s => s.getField("text") =!= lit(""))

  /** Running nearest-decided-class fold: element i of the result is the
    * class of the closest PRECEDING context-free good/bad block (edge =>
    * "bad"). Reverse in, reverse out for the following-neighbour side. */
  private def runningDecided(cfArr: Column): Column =
    aggregate(cfArr,
      struct(lit("bad").as("last"),
        array().cast("array<string>").as("arr")),
      (st, c) => struct(
        when(c === "good" || c === "bad", c)
          .otherwise(st.getField("last")).as("last"),
        concat(st.getField("arr"), array(st.getField("last"))).as("arr")),
      st => st.getField("arr"))

  /** Block feature structs from a [[htmlBlocks]] array. */
  private def blockFeatures(blocks: Column): Column =
    transform(blocks, b => {
      val wsArr = split(b.getField("text"), " ")
      struct(
        b.getField("text").as("text"),
        size(wsArr).as("n_words"),
        size(filter(wsArr, w => w.isin(TextAnalysis.STOPWORDS: _*))).as("n_stop"),
        b.getField("link_chars").as("link_chars"),
        length(b.getField("text")).as("text_chars"))
    })

  /** Context-free jusText class per feature struct. */
  private def contextFree(feat: Column): Column =
    transform(feat, f =>
      when(f.getField("link_chars") * 5 > f.getField("text_chars"), lit("bad"))
        .when(f.getField("n_words") < W_LOW,
          when(f.getField("link_chars") > 0, lit("bad")).otherwise(lit("short")))
        .when(f.getField("n_stop") * 25 >= f.getField("n_words") * 2,
          when(f.getField("n_words") > W_HIGH, lit("good")).otherwise(lit("neargood")))
        .when(f.getField("n_stop") * 25 >= f.getField("n_words"), lit("neargood"))
        .otherwise(lit("bad")))

  /** Final per-block structs from the staged arrays. */
  private def zipFinal(feat: Column, cfArr: Column,
      prevArr: Column, nextArr: Column): Column = {
    val pn = zip_with(prevArr, nextArr, (p, nx) =>
      struct(p.as("p"), nx.as("n")))
    val cls = zip_with(cfArr, pn, (c, x) => {
      val p = x.getField("p")
      val nx = x.getField("n")
      when(c === "good" || c === "bad", c)
        .when(c === "neargood",
          when(p === "good" || nx === "good", lit("good")).otherwise(lit("bad")))
        .otherwise(
          when(p === "good" && nx === "good", lit("good")).otherwise(lit("bad")))
    })
    val cfCls = zip_with(cfArr, cls, (a, b) => struct(a.as("cf"), b.as("cls")))
    zip_with(feat, cfCls, (f, c) => struct(
      f.getField("text").as("text"),
      f.getField("n_words").as("n_words"),
      f.getField("n_stop").as("n_stop"),
      f.getField("link_chars").as("link_chars"),
      f.getField("text_chars").as("text_chars"),
      c.getField("cf").as("cf"),
      c.getField("cls").as("cls")))
  }

  /** Per-block structs (text, n_words, n_stop, link_chars, text_chars,
    * cf, cls) for an HTML column — the whole jusText pipeline as one
    * array-domain expression. One-shot Column form for composition on
    * SMALL inputs; the registered query goes through
    * [[classifiedBlocksRel]], which stages the same pipeline so the
    * parse executes once per row (HOFs sit outside codegen subexpression
    * elimination, so the inlined form re-parses per derived array). */
  def classifiedBlocks(html: Column): Column = {
    val feat = blockFeatures(htmlBlocks(html))
    val cfArr = contextFree(feat)
    zipFinal(feat, cfArr,
      runningDecided(cfArr), reverse(runningDecided(reverse(cfArr))))
  }

  /** The staged relational form: (doc_id, blocks) with each expensive
    * array (parse, features, context-free classes) materialized ONCE per
    * row in its own projection — CollapseProject keeps multi-referenced
    * non-cheap aliases staged, so the parse subtree is not re-executed
    * per derived array. Still zero exchanges. */
  def classifiedBlocksRel(docs: org.apache.spark.sql.DataFrame,
      html: Column): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), htmlBlocks(html).as("__blocks"))
      .select(col("doc_id"), blockFeatures(col("__blocks")).as("__feat"))
      .select(col("doc_id"), col("__feat"),
        contextFree(col("__feat")).as("__cf"))
      .select(col("doc_id"), col("__feat"), col("__cf"),
        runningDecided(col("__cf")).as("__prev"),
        reverse(runningDecided(reverse(col("__cf")))).as("__next"))
      .select(col("doc_id"), zipFinal(col("__feat"), col("__cf"),
        col("__prev"), col("__next")).as("blocks"))

  /** Exploded per-block feature/verdict rows — q168's output shape,
    * factored so the streaming admission twin runs the IDENTICAL
    * projection (parity by construction; StreamingSpec pins it anyway).
    * posexplode_OUTER: the inner form makes InferFiltersFromGenerate
    * inject a size(blocks)>0 filter whose predicate inlines the whole
    * parse pipeline — doubling per-row work; every fixture doc renders
    * >= 5 blocks, so outer is value-identical and keeps the parse
    * single. Stateless scan -> project -> generate, zero exchanges —
    * append-mode streamable with no watermark. */
  def htmlBlockRows(docs: org.apache.spark.sql.DataFrame,
      html: Column): org.apache.spark.sql.DataFrame =
    classifiedBlocksRel(docs, html)
      .select(col("doc_id"),
        posexplode_outer(col("blocks")).as(Seq("block_idx", "b")))
      .select(col("doc_id"),
        col("block_idx").cast("long").as("block_idx"),
        col("b.n_words").cast("long").as("n_words"),
        col("b.n_stop").cast("long").as("n_stop"),
        col("b.link_chars").cast("long").as("link_chars"),
        col("b.text_chars").cast("long").as("text_chars"),
        col("b.cf").as("cf"), col("b.cls").as("cls"))

  /** Staged main-text extraction over an arbitrary relation: appends
    * `outCol` = extracted main content (final-good blocks, newline-
    * joined), keeping every input column — the q171 WARC chain feeds
    * exploded record payloads through here. Same staging discipline as
    * [[classifiedBlocksRel]]: each expensive array materializes once
    * per row in its own projection (the one-shot [[extractMainText]]
    * Column form re-executes the parse per derived array — the r16
    * HOF-CSE lesson). */
  def withMainText(df: org.apache.spark.sql.DataFrame, html: Column,
      outCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn("__wmt_feat", blockFeatures(htmlBlocks(html)))
      .withColumn("__wmt_cf", contextFree(col("__wmt_feat")))
      .withColumn("__wmt_fin", zipFinal(col("__wmt_feat"), col("__wmt_cf"),
        runningDecided(col("__wmt_cf")),
        reverse(runningDecided(reverse(col("__wmt_cf"))))))
      .withColumn(outCol, array_join(transform(
        filter(col("__wmt_fin"), b => b.getField("cls") === "good"),
        b => b.getField("text")), "\n"))
      .drop("__wmt_feat", "__wmt_cf", "__wmt_fin")

  /** The user-facing extractor: main content = final-good blocks,
    * newline-joined — what downstream text operators consume. */
  def extractMainText(html: Column): Column =
    array_join(transform(
      filter(classifiedBlocks(html), b => b.getField("cls") === "good"),
      b => b.getField("text")), "\n")

  /** The deterministic HTML fixture (same construction in the oracle):
    * every doc renders as chrome (script/style/comment) + a link-only nav
    * + a short title with an entity and the doc's first words + the
    * text's first half as a <p> with an inline <b> + (doc_id % 3) a
    * link-heavy "related" block + (doc_id % 5) a short quote + the
    * second half as a <p> + a link footer. Assumes >= 5 words per doc
    * (testdata minimum is 10). */
  private[graft] def syntheticHtml(text: Column, docId: Column): Column = {
    val ws = split(text, " ")
    val n = size(ws)
    val h = floor((n + lit(1)) / lit(2)).cast("int")
    concat(
      lit("<html><head><script>var x=1;</script><style>.b{k:1}</style>" +
        "</head><body><!-- layout -->"),
      lit("<div class=\"nav\"><a href=\"/\">home</a> <a href=\"/archive\">" +
        "archive</a> <a href=\"/about\">about</a></div>"),
      // numeric charrefs planted through the ORACLE-verified path (r17):
      // decimal &#8217; here, hex &#x2014; in the quote block, and the
      // double-escape &amp;#169; in the footer (must surface literal)
      lit("<h1>"), element_at(ws, 1), lit(" "), element_at(ws, 2), lit(" "),
      element_at(ws, 3), lit(" &amp; co&#8217;s</h1>"),
      lit("<p><b>"), element_at(ws, 1), lit("</b>"),
      when(h > 1, concat(lit(" "), array_join(slice(ws, lit(2), h - 1), " ")))
        .otherwise(lit("")),
      lit("</p>"),
      when(docId % 3 === 0, concat(
        lit("<div class=\"rel\">see also <a href=\"/r/1\">"), element_at(ws, 2),
        lit("</a> <a href=\"/r/2\">"), element_at(ws, 3), lit("</a></div>")))
        .otherwise(lit("")),
      when(docId % 5 === 0, concat(
        lit("<p>"), array_join(slice(ws, lit(2), lit(4)), " "),
        lit(" &#x2014;</p>")))
        .otherwise(lit("")),
      lit("<p>"), array_join(slice(ws, h + 1, n - h), " "), lit("</p>"),
      lit("<div class=\"footer\">copyright &amp;#169; <a href=\"/terms\">terms</a> " +
        "<a href=\"/privacy\">privacy</a></div></body></html>"))
  }

  // ------------------------------------------------------------------
  // Line-level quality rules (C4 §2.2, Raffel et al. 2020; duplicate-line
  // fraction from the Gopher/FineWeb rule set, Rae et al. 2021 / Penedo
  // et al. 2024 — all public). The doc-level ratios (q31) and repetition
  // signals (q69) assume these line rules already ran; this is the rung
  // that feeds them. Rules, applied per line with fixed precedence
  // (javascript > terminal punctuation > min words):
  //   - drop lines containing "javascript" (case-insensitive),
  //   - drop lines not ending in terminal punctuation (. ! ? "),
  //   - drop lines with fewer than 3 whitespace words;
  // and per page: kept-line count >= 5 plus duplicate-line fraction
  // <= 0.3, both as integer comparisons (no float boundaries).
  //
  // 100 TB shape: like q168, the whole thing is array-domain expressions
  // in staged projections — per-line classes never explode to rows, the
  // output is one row per doc, the plan is scan -> project with ZERO
  // exchanges, and it composes map-side after extraction and before the
  // q161 funnel.
  // ------------------------------------------------------------------

  private val TERMINAL_PUNCT = "[.!?\"]$"
  private val LINE_MIN_WORDS = 3
  private val PAGE_MIN_KEPT = 5

  /** Per-line rule verdict: 'js' | 'nopunct' | 'short' | 'kept', with the
    * documented precedence. */
  private def lineClasses(lines: Column, nwArr: Column): Column =
    zip_with(lines, nwArr, (l, nw) =>
      when(lower(l).contains("javascript"), lit("js"))
        .when(!l.rlike(TERMINAL_PUNCT), lit("nopunct"))
        .when(nw < LINE_MIN_WORDS, lit("short"))
        .otherwise(lit("kept")))

  /** Doc-level line-quality report for a newline-separated page column:
    * per-rule drop counts, kept-line word mass, duplicate-line count and
    * the page-pass verdict. Staged like [[classifiedBlocksRel]] so the
    * line split and word counts evaluate once per row. `passthrough`
    * names extra input columns carried through every stage (the q172
    * banned-word count rides here so page-level filters compose in the
    * same zero-exchange projection chain). */
  def lineQualityRel(docs: org.apache.spark.sql.DataFrame,
      page: Column,
      passthrough: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val pt = passthrough.map(col)
    docs.select(col("doc_id") +: pt :+ split(page, "\n").as("__lines"): _*)
      .select(col("doc_id") +: pt :+ col("__lines") :+
        transform(col("__lines"), l =>
          size(filter(split(trim(l), " "), w => w =!= ""))).as("__nw"): _*)
      .select(col("doc_id") +: pt :+ col("__lines") :+ col("__nw") :+
        lineClasses(col("__lines"), col("__nw")).as("__cls"): _*)
      .select(col("doc_id") +: pt :+
        size(col("__lines")).cast("long").as("n_lines") :+
        size(array_distinct(col("__lines"))).cast("long").as("n_distinct") :+
        size(filter(col("__cls"), c => c === "kept")).cast("long").as("n_kept") :+
        size(filter(col("__cls"), c => c === "js")).cast("long").as("n_js") :+
        size(filter(col("__cls"), c => c === "nopunct")).cast("long").as("n_nopunct") :+
        size(filter(col("__cls"), c => c === "short")).cast("long").as("n_short") :+
        aggregate(zip_with(col("__cls"), col("__nw"), (c, nw) =>
            when(c === "kept", nw).otherwise(lit(0))),
          lit(0), (acc, x) => acc + x).cast("long").as("kept_words"): _*)
      .withColumn("page_pass",
        (col("n_kept") >= PAGE_MIN_KEPT &&
          (col("n_lines") - col("n_distinct")) * 10 <= col("n_lines") * 3)
          .cast("long"))
  }

  /** The deterministic multi-line page fixture (same construction in the
    * oracle): the doc's words in 5-word lines; line i gains the word
    * "javascript" when (doc_id*7 + i) % 11 == 0, ends in '.' when
    * (doc_id + i) % 3 == 0, in '!' or '?' (by i parity) when % 3 == 1,
    * and unterminated when % 3 == 2; docs with doc_id % 4 == 0 repeat
    * their first line at the end (the planted duplicate). */
  private[graft] def syntheticPage(text: Column, docId: Column): Column = {
    val ws = split(text, " ")
    val n = size(ws)
    val lines0 = transform(
      sequence(lit(0), floor((n - lit(1)) / lit(5)).cast("int")), i => {
        val seg = array_join(slice(ws, i * 5 + 1, lit(5)), " ")
        val withJs = when((docId * 7 + i) % 11 === 0,
          concat(seg, lit(" javascript"))).otherwise(seg)
        val p = (docId + i) % 3
        when(p === 0, concat(withJs, lit(".")))
          .when(p === 1, concat(withJs,
            when(i % 2 === 0, lit("!")).otherwise(lit("?"))))
          .otherwise(withJs)
      })
    val lines = when(docId % 4 === 0,
      concat(lines0, slice(lines0, lit(1), lit(1)))).otherwise(lines0)
    array_join(lines, "\n")
  }

  private lazy val LINE_ORACLE = s"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    pg AS (
      SELECT doc_id,
        list_transform(range(0, (len(ws) - 1) // 5 + 1), i ->
          (CASE WHEN (doc_id * 7 + i) % 11 = 0
                THEN array_to_string(ws[i*5+1 : i*5+5], ' ') || ' javascript'
                ELSE array_to_string(ws[i*5+1 : i*5+5], ' ') END) ||
          (CASE WHEN (doc_id + i) % 3 = 0 THEN '.'
                WHEN (doc_id + i) % 3 = 1 THEN
                  (CASE WHEN i % 2 = 0 THEN '!' ELSE '?' END)
                ELSE '' END)) AS lines0
      FROM d),
    lns AS (
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 0 THEN list_concat(lines0, [lines0[1]])
             ELSE lines0 END AS lines
      FROM pg),
    cls AS (
      SELECT doc_id, lines,
        list_transform(lines, l ->
          CASE WHEN contains(lower(l), 'javascript') THEN 'js'
               WHEN NOT regexp_matches(l, '$TERMINAL_PUNCT') THEN 'nopunct'
               WHEN len(list_filter(string_split(trim(l), ' '), w -> w <> ''))
                    < $LINE_MIN_WORDS THEN 'short'
               ELSE 'kept' END) AS c,
        list_transform(lines, l ->
          len(list_filter(string_split(trim(l), ' '), w -> w <> ''))) AS nw
      FROM lns),
    agg AS (
      SELECT doc_id,
        len(lines)::BIGINT AS n_lines,
        len(list_distinct(lines))::BIGINT AS n_distinct,
        len(list_filter(c, x -> x = 'kept'))::BIGINT AS n_kept,
        len(list_filter(c, x -> x = 'js'))::BIGINT AS n_js,
        len(list_filter(c, x -> x = 'nopunct'))::BIGINT AS n_nopunct,
        len(list_filter(c, x -> x = 'short'))::BIGINT AS n_short,
        coalesce(list_sum(list_transform(range(0, len(lines)), j ->
          CASE WHEN c[j+1] = 'kept' THEN nw[j+1] ELSE 0 END)), 0)::BIGINT
          AS kept_words
      FROM cls)
    SELECT doc_id, n_lines, n_distinct, n_kept, n_js, n_nopunct, n_short,
           kept_words,
           (CASE WHEN n_kept >= $PAGE_MIN_KEPT
                  AND (n_lines - n_distinct) * 10 <= n_lines * 3
                 THEN 1 ELSE 0 END)::BIGINT AS page_pass
    FROM agg"""

  // ------------------------------------------------------------------
  // C4 banned-word page filter (Raffel et al. 2020 §2.2: C4 removes any
  // page containing ANY word on a banned-word list — the "List of Dirty,
  // Naughty, Obscene or Otherwise Bad Words" in the paper; here a
  // public-safe stand-in set, parameterized). Match semantics: whole
  // words (\b boundaries — "frelking"/"unfrelk" must NOT hit "frelk"),
  // case-insensitive, anywhere on the page. Composes with q169's line
  // verdict: final admission = page_pass AND zero banned hits.
  //
  // 100 TB shape: the hit count is one regexp_extract_all over the page
  // inside the SAME staged projection chain as the line rules (the
  // passthrough arm of lineQualityRel) — still scan -> project, zero
  // exchanges, embarrassingly parallel at any scale.
  // ------------------------------------------------------------------

  /** Public-safe stand-in banned list (parameterizes [[bannedHits]]). */
  private[graft] val BANNED_WORDS = Seq("frelk", "snarg", "plugh")

  private def bannedRe(words: Seq[String]): String =
    "(?i)\\b(?:" + words.mkString("|") + ")\\b"

  /** Count of banned-word occurrences on a page (C4 kills on >= 1). */
  def bannedHits(page: Column, words: Seq[String] = BANNED_WORDS): Column =
    size(regexp_extract_all(page, lit(bannedRe(words)), lit(0))).cast("long")

  /** The q172 fixture: [[syntheticPage]] plus a deterministically planted
    * tail line — a kept line with one banned word (doc_id % 7 == 2), an
    * unterminated line with two case-varied banned words (% 7 == 5), or a
    * decoy line whose superstrings must NOT match (% 7 == 3). */
  private[graft] def bannedSyntheticPage(text: Column, docId: Column): Column =
    concat(syntheticPage(text, docId),
      when(docId % 7 === 2, lit("\nreader discretion the word frelk lands here."))
        .when(docId % 7 === 5, lit("\nSnarg and PLUGH both appear unterminated"))
        .when(docId % 7 === 3, lit("\nfrelking about unfrelk stays clean."))
        .otherwise(lit("")))

  private lazy val C4_ORACLE = s"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    pg AS (
      SELECT doc_id,
        list_transform(range(0, (len(ws) - 1) // 5 + 1), i ->
          (CASE WHEN (doc_id * 7 + i) % 11 = 0
                THEN array_to_string(ws[i*5+1 : i*5+5], ' ') || ' javascript'
                ELSE array_to_string(ws[i*5+1 : i*5+5], ' ') END) ||
          (CASE WHEN (doc_id + i) % 3 = 0 THEN '.'
                WHEN (doc_id + i) % 3 = 1 THEN
                  (CASE WHEN i % 2 = 0 THEN '!' ELSE '?' END)
                ELSE '' END)) AS lines0
      FROM d),
    lns0 AS (
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 0 THEN list_concat(lines0, [lines0[1]])
             ELSE lines0 END AS lines
      FROM pg),
    lns AS (
      SELECT doc_id,
        CASE WHEN doc_id % 7 = 2 THEN
               list_concat(lines, ['reader discretion the word frelk lands here.'])
             WHEN doc_id % 7 = 5 THEN
               list_concat(lines, ['Snarg and PLUGH both appear unterminated'])
             WHEN doc_id % 7 = 3 THEN
               list_concat(lines, ['frelking about unfrelk stays clean.'])
             ELSE lines END AS lines
      FROM lns0),
    cls AS (
      SELECT doc_id, lines,
        list_transform(lines, l ->
          CASE WHEN contains(lower(l), 'javascript') THEN 'js'
               WHEN NOT regexp_matches(l, '$TERMINAL_PUNCT') THEN 'nopunct'
               WHEN len(list_filter(string_split(trim(l), ' '), w -> w <> ''))
                    < $LINE_MIN_WORDS THEN 'short'
               ELSE 'kept' END) AS c,
        list_transform(lines, l ->
          len(list_filter(string_split(trim(l), ' '), w -> w <> ''))) AS nw
      FROM lns),
    agg AS (
      SELECT doc_id,
        len(regexp_extract_all(array_to_string(lines, chr(10)),
          '${bannedRe(BANNED_WORDS)}'))::BIGINT AS banned_hits,
        len(lines)::BIGINT AS n_lines,
        len(list_distinct(lines))::BIGINT AS n_distinct,
        len(list_filter(c, x -> x = 'kept'))::BIGINT AS n_kept,
        len(list_filter(c, x -> x = 'js'))::BIGINT AS n_js,
        len(list_filter(c, x -> x = 'nopunct'))::BIGINT AS n_nopunct,
        len(list_filter(c, x -> x = 'short'))::BIGINT AS n_short,
        coalesce(list_sum(list_transform(range(0, len(lines)), j ->
          CASE WHEN c[j+1] = 'kept' THEN nw[j+1] ELSE 0 END)), 0)::BIGINT
          AS kept_words
      FROM cls)
    SELECT doc_id, banned_hits, n_lines, n_distinct, n_kept, n_js,
           n_nopunct, n_short, kept_words,
           (CASE WHEN n_kept >= $PAGE_MIN_KEPT
                  AND (n_lines - n_distinct) * 10 <= n_lines * 3
                 THEN 1 ELSE 0 END)::BIGINT AS page_pass,
           (CASE WHEN n_kept >= $PAGE_MIN_KEPT
                  AND (n_lines - n_distinct) * 10 <= n_lines * 3
                  AND banned_hits = 0
                 THEN 1 ELSE 0 END)::BIGINT AS final_pass
    FROM agg"""

  // ------------------------------------------------------------------
  // Gopher document-level quality rules (Rae et al. 2021, "Scaling
  // Language Models: Methods, Analysis & Insights from Training
  // Gopher", §A1.1 — public). The rule FAMILY q169's C4 line gate does
  // not cover: document-shape signals (word count bounds, mean word
  // length bounds, symbol-to-word ratio), layout signals (bullet-start
  // and ellipsis-end line fractions), and lexical sanity (alphabetic-
  // word fraction, required-stopword coverage). q69 computes the
  // repetition third of the Gopher set; this is the composite verdict
  // the other two thirds roll into. Word-count and stopword thresholds
  // are calibrated to THIS corpus (docs run 10-99 words; Gopher's
  // 50-word floor would kill half of it), the q168 convention.
  //
  // Every rule is an integer comparison (no float boundaries, engine-
  // exact in DuckDB). 100 TB shape: like q169 — array-domain
  // expressions in staged projections, one row per doc out, scan ->
  // project, ZERO exchanges; composes map-side between extraction
  // (q168) and the q161 funnel.
  // ------------------------------------------------------------------

  private val GOPHER_MIN_WORDS = 20L // corpus-calibrated (Gopher: 50)
  private val GOPHER_MAX_WORDS = 100000L

  private val REQUIRED_WORDS = TextAnalysis.STOPWORDS
  private val SQL_REQUIRED =
    REQUIRED_WORDS.map(w => s"'$w'").mkString("[", ",", "]")

  /** Doc-level Gopher-rule report for a newline-separated page column:
    * the eight shape/layout/lexical signals plus the composite verdict,
    * staged like [[lineQualityRel]] so the line split and word arrays
    * evaluate once per row. */
  def gopherRulesRel(docs: org.apache.spark.sql.DataFrame,
      page: Column, keys: Seq[String] = Seq("doc_id"))
      : org.apache.spark.sql.DataFrame = {
    val kt = keys.map(col)
    docs.select(kt :+ page.as("__pg"): _*)
      .select(kt :+ col("__pg")
        :+ split(col("__pg"), "\n").as("__lines")
        :+ filter(split(regexp_replace(col("__pg"), "\n", " "), " "),
          w => w =!= "").as("__words"): _*)
      .select(kt :+
        size(col("__words")).cast("long").as("n_words")
        :+ aggregate(transform(col("__words"), w => length(w)),
          lit(0), (a, x) => a + x).cast("long").as("word_chars")
        :+ size(col("__lines")).cast("long").as("n_lines")
        :+ size(filter(col("__lines"), l => l.startsWith("- ")))
          .cast("long").as("n_bullet")
        :+ size(filter(col("__lines"), l => l.endsWith("...")))
          .cast("long").as("n_ellipsis_end")
        :+ (size(regexp_extract_all(col("__pg"), lit("#"), lit(0))) +
          size(regexp_extract_all(col("__pg"), lit("\\.\\.\\."), lit(0))))
          .cast("long").as("n_symbols")
        :+ size(filter(col("__words"), w => w.rlike("[A-Za-z]")))
          .cast("long").as("n_alpha_words")
        :+ size(filter(array(REQUIRED_WORDS.map(lit): _*),
          sw => array_contains(col("__words"), sw)))
          .cast("long").as("req_stop_hits"): _*)
      .withColumn("gopher_pass",
        (col("n_words") >= GOPHER_MIN_WORDS &&
          col("n_words") <= GOPHER_MAX_WORDS &&
          col("word_chars") >= col("n_words") * 3 &&
          col("word_chars") <= col("n_words") * 10 &&
          col("n_symbols") * 10 <= col("n_words") &&
          col("n_bullet") * 10 <= col("n_lines") * 9 &&
          col("n_ellipsis_end") * 10 <= col("n_lines") * 3 &&
          col("n_alpha_words") * 5 >= col("n_words") * 4 &&
          col("req_stop_hits") >= 2).cast("long"))
  }

  /** The q175 fixture (same construction in the oracle): the doc's
    * words in 6-word lines; line i gains a `- ` bullet prefix when
    * (doc_id + 2i) % 5 == 0, a trailing ` ##` symbol token when
    * (doc_id + i) % 9 == 0, and ends in `...` when (3*doc_id + i)
    * % 7 == 0 (else `.`) — planting every layout/symbol class the
    * rules measure, at fractions that leave each rule's verdict
    * varying across the corpus. */
  private[graft] def gopherSyntheticPage(text: Column, docId: Column): Column = {
    val ws = split(text, " ")
    val n = size(ws)
    val lines = transform(
      sequence(lit(0), floor((n - lit(1)) / lit(6)).cast("int")), i => {
        val seg = array_join(slice(ws, i * 6 + 1, lit(6)), " ")
        val withSym = when((docId + i) % 9 === 0, concat(seg, lit(" ##")))
          .otherwise(seg)
        val withB = when((docId + i * 2) % 5 === 0,
          concat(lit("- "), withSym)).otherwise(withSym)
        when((docId * 3 + i) % 7 === 0, concat(withB, lit("...")))
          .otherwise(concat(withB, lit(".")))
      })
    array_join(lines, "\n")
  }

  /** The Gopher signal/verdict replay as CTE fragments shared by the
    * q175, q181 and q188 oracles (the rulesReplaySql pattern): expects
    * an upstream CTE `<src>(doc_id, page)` and emits `arrs` + `sig` +
    * `gop` — all eight signals plus the composite verdict per doc. */
  private[graft] def gopherReplaySql(src: String): String = s"""arrs AS (
      SELECT doc_id, page,
        string_split(page, chr(10)) AS lines,
        list_filter(string_split(replace(page, chr(10), ' '), ' '),
          w -> w <> '') AS words
      FROM $src),
    sig AS (
      SELECT doc_id,
        len(words)::BIGINT AS n_words,
        coalesce(list_sum(list_transform(words, w -> length(w))), 0)::BIGINT
          AS word_chars,
        len(lines)::BIGINT AS n_lines,
        len(list_filter(lines, l -> starts_with(l, '- ')))::BIGINT
          AS n_bullet,
        len(list_filter(lines, l -> ends_with(l, '...')))::BIGINT
          AS n_ellipsis_end,
        (len(regexp_extract_all(page, '#')) +
         len(regexp_extract_all(page, '\\.\\.\\.')))::BIGINT AS n_symbols,
        len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))::BIGINT
          AS n_alpha_words,
        len(list_filter($SQL_REQUIRED, sw -> list_contains(words, sw)))::BIGINT
          AS req_stop_hits
      FROM arrs),
    gop AS (
      SELECT doc_id, n_words, word_chars, n_lines, n_bullet,
             n_ellipsis_end, n_symbols, n_alpha_words, req_stop_hits,
             (CASE WHEN n_words >= $GOPHER_MIN_WORDS
                    AND n_words <= $GOPHER_MAX_WORDS
                    AND word_chars >= n_words * 3
                    AND word_chars <= n_words * 10
                    AND n_symbols * 10 <= n_words
                    AND n_bullet * 10 <= n_lines * 9
                    AND n_ellipsis_end * 10 <= n_lines * 3
                    AND n_alpha_words * 5 >= n_words * 4
                    AND req_stop_hits >= 2
                   THEN 1 ELSE 0 END)::BIGINT AS gopher_pass
      FROM sig)"""

  private lazy val GOPHER_ORACLE = s"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    pg AS (
      SELECT doc_id,
        array_to_string(list_transform(range(0, (len(ws) - 1) // 6 + 1), i ->
          (CASE WHEN (doc_id + 2*i) % 5 = 0 THEN '- ' ELSE '' END) ||
          array_to_string(ws[i*6+1 : i*6+6], ' ') ||
          (CASE WHEN (doc_id + i) % 9 = 0 THEN ' ##' ELSE '' END) ||
          (CASE WHEN (doc_id*3 + i) % 7 = 0 THEN '...' ELSE '.' END)),
          chr(10)) AS page
      FROM d),
    ${gopherReplaySql("pg")}
    SELECT doc_id, n_words, word_chars, n_lines, n_bullet, n_ellipsis_end,
           n_symbols, n_alpha_words, req_stop_hits, gopher_pass
    FROM gop"""

  // ------------------------------------------------------------------
  // Outlink extraction + host-level web graph (the CommonCrawl webgraph
  // move: CC's published host-level webgraph aggregates page-level
  // <a href> edges to host->host with link and page counts; host
  // PageRank / harmonic centrality over that graph is the standard
  // crawl-prioritization and quality prior — all public). This is the
  // rung between q168's block parse (which already measures link
  // DENSITY but discards the targets) and the q119/q133 graph
  // operators (which need an edge list to rank).
  //
  // Resolution is deliberately HOST-level, not full RFC 3986 path
  // resolution: for a host graph, every root-relative, document-
  // relative and fragment-bearing path link stays on the page's own
  // host, so only the scheme prefix needs classifying —
  //   - absolute http(s):// links resolve to their own authority,
  //   - protocol-relative // links likewise,
  //   - fragment-only / javascript: / mailto: pseudo-links are not
  //     navigation edges and drop,
  //   - everything else is an internal edge to the page host.
  // Hosts normalize like q158's canonicalizer (lowercase, `www.`
  // stripped) so the graph keys join against canonical-URL keys.
  //
  // 100 TB shape: extraction + classification is a pure map; the only
  // exchanges are the two partial-agg groupBys that shrink page-level
  // edges to (host, host) — output is bounded by the host roster
  // squared, in practice linear in hosts. No joins, no skew hazard
  // (a mega-host fan-in arrives pre-combined by the map-side partial
  // agg). Composes upstream with q171 (WARC payloads) and downstream
  // with q133 (weighted PageRank over the emitted edges).
  // ------------------------------------------------------------------

  /** Double-quoted href values of <a> elements, in document order. The
    * same deliberate regex-level scope as [[htmlInnerText]]: attribute
    * values containing '>' and unquoted/single-quoted hrefs are out of
    * scope (documented, spec-pinned). */
  def hrefTargets(html: Column): Column =
    regexp_extract_all(html,
      lit("(?is)<a\\b[^>]*?\\bhref\\s*=\\s*\"([^\"]*)\""), lit(1))

  /** Canonical host of a scheme-stripped URL: authority up to the first
    * `/`, `?` or `#`, with `userinfo@` and `:port` stripped (one
    * physical host must not split into `host`/`host:8080`/`user@host`
    * graph keys), lowercased, leading `www.` dropped (the q158
    * normalization, so graph keys join against canonical-URL keys).
    * The userinfo cut is the RFC 3986 one — everything before the first
    * `@` within the authority (the optional group cannot cross `/?#`).
    * A BRACKETED authority (RFC 3986 IP-literal, `[::1]:8080`) keeps
    * its whole bracket group as the host — the `:port` cut would
    * otherwise truncate at the first colon INSIDE the brackets and
    * yield `[` (advisor-found r18); the port strip then applies past
    * the closing bracket by the alternation's maximal bracket match. */
  private[graft] def hostOf(noScheme: Column): Column =
    regexp_replace(lower(regexp_extract(noScheme,
      "^(?:[^/?#@]*@)?(\\[[^\\]/?#]*\\]|[^/?#:]*)", 1)), "^www\\.", "")

  /** Canonical host of a page URL (scheme tolerated in any case). */
  def pageHost(url: Column): Column =
    hostOf(regexp_replace(url, "^(?i)https?://", ""))

  /** Destination host of one href, given the linking page's host:
    * absolute/protocol-relative links resolve to their own authority,
    * fragment/javascript/mailto pseudo-links to NULL (dropped), any
    * other form (root-relative, document-relative) to the page host.
    * An EMPTY resolved authority (`"https://"`, `"//"`, `"///x"` —
    * all real-crawl artifacts) is NULL too: an empty-string vertex in
    * the host graph is never meaningful. */
  def resolveLinkHost(href: Column, srcHost: Column): Column = {
    val h = trim(href)
    val resolved = when(h.isNull, lit(null).cast("string"))
      .when(h.rlike("^(?i)https?://"), pageHost(h))
      .when(h.rlike("^//"), hostOf(regexp_replace(h, "^//", "")))
      .when(h === "" || h.rlike("^(#|(?i:javascript|mailto):)"),
        lit(null).cast("string"))
      .otherwise(srcHost)
    when(resolved === "", lit(null).cast("string")).otherwise(resolved)
  }

  /** The q173 fixture: [[syntheticHtml]] plus a trailing external-links
    * block planting every resolution class — a case-varied absolute
    * https host (lowercasing under test), a protocol-relative image
    * host (doc_id % 2 == 0), a `www.`-prefixed absolute with scheme in
    * caps (strip + case under test, doc_id % 3 == 1), a fragment-only
    * link, a javascript: pseudo-link (doc_id % 5 == 2), a mailto:
    * (doc_id % 4 == 3) and a document-relative path. The base fixture
    * contributes the internal mass: 3 nav + 2 footer + 2 related links
    * when doc_id % 3 == 0. */
  private[graft] def syntheticLinkedHtml(text: Column, docId: Column): Column =
    concat(syntheticHtml(text, docId),
      lit("<div class=\"ext\"><a href=\"https://CDN"),
      (docId % 5).cast("string"),
      lit(".Example.org/static/lib.js\">mirror</a>"),
      when(docId % 2 === 0, concat(lit("<a href=\"//img"),
        (docId % 3).cast("string"),
        lit(".example.net/i.png\">img</a>"))).otherwise(lit("")),
      when(docId % 3 === 1, concat(lit("<a href=\"HTTP://www.partner"),
        (docId % 4).cast("string"),
        lit(".example.com/deal?x=1\">partner</a>"))).otherwise(lit("")),
      lit("<a href=\"#top\">top</a>"),
      when(docId % 5 === 2, lit("<a href=\"javascript:void(0)\">noop</a>"))
        .otherwise(lit("")),
      when(docId % 4 === 3, lit("<a href=\"mailto:ops@example.org\">mail</a>"))
        .otherwise(lit("")),
      lit("<a href=\"notes/rel.html\">notes</a></div>"))

  /** Host-level outlink graph of (page-host, html) rows: one edge row
    * per (src_host, dst_host) with total link count and linking-page
    * count. Two-level aggregation: the per-(doc, src, dst) partial
    * shrinks page-level multiplicity map-side before the host-level
    * rollup, so the second exchange carries one row per page-edge.
    * explode_OUTER for the q168 reason: the inner form makes
    * InferFiltersFromGenerate inject a size(hrefs)>0 filter whose
    * predicate re-inlines the whole document-scale extraction regex
    * (doubling per-row parse work); a zero-href page's null row is
    * dropped by the null guard in [[resolveLinkHost]] instead. */
  def outlinkHostGraph(pages: org.apache.spark.sql.DataFrame,
      html: Column, srcHost: Column): org.apache.spark.sql.DataFrame =
    pages
      .select(col("doc_id"), srcHost.as("src_host"),
        hrefTargets(html).as("__hrefs"))
      .select(col("doc_id"), col("src_host"),
        explode_outer(col("__hrefs")).as("__href"))
      .select(col("doc_id"), col("src_host"),
        resolveLinkHost(col("__href"), col("src_host")).as("dst_host"))
      .filter(col("dst_host").isNotNull)
      .groupBy(col("doc_id"), col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("src_host"), col("dst_host"))
      .agg(sum(col("__n")).as("n_links"), count(lit(1)).as("n_pages"))
      .withColumn("internal",
        (col("src_host") === col("dst_host")).cast("long"))

  // ------------------------------------------------------------------
  // Anchor-text aggregation (the other half of the webgraph move:
  // CommonCrawl/ClueWeb-style anchor corpora collect, per TARGET, the
  // words other pages use to link to it — the classic relevance signal
  // retrieval/embedding training sets are mined from, MS MARCO / ORCAS
  // shape; all public). q173 keeps the edge, this keeps the words.
  //
  // Extraction shape: ONE document-scale walk collects the full <a>
  // elements (group 0); href and anchor text then come from per-anchor
  // group extracts over the short matched strings — the hot column is
  // regex-scanned once, and (href, text) can never misalign because
  // both come out of the same matched element.
  //
  // 100 TB shape: extraction is a map; two generates (anchors, then
  // terms) stay exchange-free; the only shuffle is the final
  // (dst_host, term) partial-agg groupBy — a mega-host's anchor mass
  // arrives pre-combined map-side. Output is bounded by hosts x anchor
  // vocabulary, linear in practice.
  // ------------------------------------------------------------------

  /** One pattern: group 0 is the whole <a> element (the document-walk
    * unit), groups 1/2 the href and anchor text (per-element extracts). */
  private val A_PAIR_RE =
    "(?is)<a\\b[^>]*?\\bhref\\s*=\\s*\"([^\"]*)\"[^>]*>(.*?)</a>"

  /** Per-(dst_host, term) anchor-term counts over (doc_id, html,
    * src_host) rows: anchor elements extract + host-resolve like
    * [[outlinkHostGraph]] (same drop classes), anchor inner text strips
    * inline markup and decodes entities via [[htmlInnerText]], terms
    * split on whitespace. Both generates are OUTER for the q168/q173
    * reason (the inferred size()>0 filter would re-inline the upstream
    * extraction). */
  def anchorTermIndex(pages: org.apache.spark.sql.DataFrame,
      html: Column, srcHost: Column): org.apache.spark.sql.DataFrame =
    pages
      .select(col("doc_id"), srcHost.as("src_host"),
        regexp_extract_all(html, lit(A_PAIR_RE), lit(0)).as("__tags"))
      .select(col("doc_id"), col("src_host"),
        explode_outer(col("__tags")).as("__tag"))
      .select(col("doc_id"),
        resolveLinkHost(regexp_extract(col("__tag"), A_PAIR_RE, 1),
          col("src_host")).as("dst_host"),
        regexp_extract(col("__tag"), A_PAIR_RE, 2).as("__anchor"))
      .filter(col("dst_host").isNotNull)
      .select(col("dst_host"),
        explode_outer(split(htmlInnerText(col("__anchor")), " ")).as("term"))
      .filter(col("term").isNotNull && col("term") =!= "")
      .groupBy(col("dst_host"), col("term"))
      .agg(count(lit(1)).as("n_links"))

  /** The q176 fixture: [[syntheticLinkedHtml]] plus one anchor whose
    * text carries inline markup and several words — the inner-text
    * strip and the term split are what it exercises. */
  private[graft] def syntheticAnchorHtml(text: Column, docId: Column): Column =
    concat(syntheticLinkedHtml(text, docId),
      lit("<p>read <a href=\"/guide\">the <b>full</b> guide</a> today</p>"))

  /** Generative oracle, the q173 convention: the expected term multiset
    * from the fixture residues; anchor texts are the literal fixture
    * words plus ws[2]/ws[3] in the related block. */
  private lazy val ANCHOR_ORACLE = """
    WITH d AS (
      SELECT doc_id, source || '.com' AS src_host,
             string_split(text, ' ') AS ws
      FROM documents),
    t AS (
      SELECT doc_id, src_host AS dst_host,
             unnest(['home','archive','about','notes','terms','privacy',
                     'the','full','guide']) AS term
      FROM d
      UNION ALL
      SELECT doc_id, src_host, unnest([ws[2], ws[3]]) FROM d
      WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, 'cdn' || (doc_id % 5) || '.example.org', 'mirror' FROM d
      UNION ALL
      SELECT doc_id, 'img' || (doc_id % 3) || '.example.net', 'img' FROM d
      WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, 'partner' || (doc_id % 4) || '.example.com', 'partner'
      FROM d WHERE doc_id % 3 = 1)
    SELECT dst_host, term, count(*)::BIGINT AS n_links
    FROM t GROUP BY 1, 2"""

  /** The q173 oracle derives the expected link multiset GENERATIVELY
    * from the fixture residues (never parsing HTML — the Spark side's
    * regex walk is what's under test, the q168 oracle convention).
    * src_host: the rawUrl host is `www.SRC.COM` (doc_id % 3 == 0) or
    * `src.com`, which the q158 normalization collapses to `src.com`
    * for every doc. */
  private lazy val OUTLINK_ORACLE = """
    WITH d AS (
      SELECT doc_id, source || '.com' AS src_host FROM documents),
    links AS (
      SELECT doc_id, src_host, src_host AS dst_host,
             6 + (CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 0 END) AS n
      FROM d
      UNION ALL
      SELECT doc_id, src_host,
             'cdn' || (doc_id % 5) || '.example.org', 1 FROM d
      UNION ALL
      SELECT doc_id, src_host,
             'img' || (doc_id % 3) || '.example.net', 1 FROM d
      WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, src_host,
             'partner' || (doc_id % 4) || '.example.com', 1 FROM d
      WHERE doc_id % 3 = 1)
    SELECT src_host, dst_host,
           cast(sum(n) AS BIGINT) AS n_links,
           count(*) AS n_pages,
           (CASE WHEN src_host = dst_host THEN 1 ELSE 0 END)::BIGINT
             AS internal
    FROM links
    GROUP BY src_host, dst_host"""

  // ------------------------------------------------------------------
  // Host-rank quality prior (q178): weighted PageRank over the q173
  // host graph — the CommonCrawl-style host ranking used as a crawl-
  // prioritization / data-quality prior (a page from a well-linked
  // host gets a better prior than one from a link-island; the public
  // cc-webgraph releases ship exactly this ranking). Composition gets
  // its own oracle per the q97/q161 boundary lesson: which edges feed
  // the rank (EXTERNAL edges only — internal self-loops would let a
  // host vote for itself) is a boundary individually-green stages
  // don't pin.
  //
  // The rank reuses q133's exact-integer damped recurrence
  // (IterativeGraph.pageRankWeighted) with string hosts as vertex ids
  // directly — no ordinal encoding needed; the graph is symmetrized
  // (link affinity) like q133 so pure-sink hosts hold rank mass.
  // 100 TB shape: the host graph is bounded by the host roster, so
  // after q173's rollup the iteration runs on a TINY relation (one
  // join per pinned round); everything upstream is the q173 map.
  // ------------------------------------------------------------------

  private val HOST_RANK_ITERS = 5
  private val HOST_RANK_SCALE = 10000000000L

  private lazy val HOST_RANK_ORACLE = s"""
    WITH d AS (
      SELECT doc_id, source || '.com' AS src_host FROM documents),
    links AS (
      SELECT doc_id, src_host,
             'cdn' || (doc_id % 5) || '.example.org' AS dst_host, 1 AS n
      FROM d
      UNION ALL
      SELECT doc_id, src_host,
             'img' || (doc_id % 3) || '.example.net', 1 FROM d
      WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, src_host,
             'partner' || (doc_id % 4) || '.example.com', 1 FROM d
      WHERE doc_id % 3 = 1),
    pw AS (
      SELECT src_host AS src, dst_host AS dst, cast(sum(n) AS bigint) AS w
      FROM links GROUP BY 1, 2),
    sym AS (
      SELECT src, dst, w FROM pw
      UNION ALL
      SELECT dst AS src, src AS dst, w FROM pw),
    ${graft.operators.Advanced.pagerankWeightedRoundsSql(
        HOST_RANK_ITERS, HOST_RANK_SCALE)}
    SELECT v AS host, r FROM r$HOST_RANK_ITERS"""

  private val SQL_STOPCNT = (l: String) =>
    s"len(list_filter($l, x -> x IN ${TextAnalysis.SQL_STOP}))"

  /** The q168 oracle rebuilds each block's integer features from the
    * generative formula (never parsing HTML — that's the Spark side's
    * job) and applies the identical integer-ratio classification and
    * window-based context pass. The CTE chain is factored so the q171
    * WARC oracle can derive per-doc extracted-main-text expectations
    * from the same `verdicts` relation. */
  private[graft] lazy val HTML_BLOCK_CTES = s"""
    d AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
    b0 AS (
      SELECT doc_id, source, ws, len(ws) AS n, (len(ws) + 1) // 2 AS h FROM d),
    blk AS (
      -- last column is the block's visible TEXT (btext); text_chars
      -- derives from it in idx, and the q181 composition oracle reads
      -- the strings themselves
      SELECT doc_id, 0 AS ord, 3 AS n_words, 0 AS n_stop,
             len('home')+len('archive')+len('about') AS link_chars,
             'home archive about' AS btext
      FROM b0
      UNION ALL
      SELECT doc_id, 1, 5, ${SQL_STOPCNT("ws[1:3]")}, 0,
             ws[1] || ' ' || ws[2] || ' ' || ws[3] || ' & co’s'
      FROM b0
      UNION ALL
      SELECT doc_id, 2, h, ${SQL_STOPCNT("ws[1:h]")}, 0,
             array_to_string(ws[1:h], ' ')
      FROM b0
      UNION ALL
      SELECT doc_id, 3, 4, ${SQL_STOPCNT("ws[2:3]")},
             len(ws[2]) + len(ws[3]),
             'see also ' || ws[2] || ' ' || ws[3]
      FROM b0 WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, 4, 5, ${SQL_STOPCNT("ws[2:5]")}, 0,
             array_to_string(ws[2:5], ' ') || ' —'
      FROM b0 WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id, 5, n - h, ${SQL_STOPCNT("ws[h+1:n]")}, 0,
             array_to_string(ws[h+1:n], ' ')
      FROM b0
      UNION ALL
      SELECT doc_id, 6, 4, 0, len('terms')+len('privacy'),
             'copyright &#169; terms privacy'
      FROM b0),
    idx AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS block_idx,
             n_words, n_stop, link_chars, length(btext) AS text_chars, btext
      FROM blk),
    cf AS (
      SELECT *,
        CASE WHEN link_chars * 5 > text_chars THEN 'bad'
             WHEN n_words < $W_LOW THEN
               (CASE WHEN link_chars > 0 THEN 'bad' ELSE 'short' END)
             WHEN n_stop * 25 >= n_words * 2 THEN
               (CASE WHEN n_words > $W_HIGH THEN 'good' ELSE 'neargood' END)
             WHEN n_stop * 25 >= n_words THEN 'neargood'
             ELSE 'bad' END AS cf
      FROM idx),
    ctx AS (
      SELECT *,
        coalesce(last_value(CASE WHEN cf IN ('good','bad') THEN cf END IGNORE NULLS)
          OVER (PARTITION BY doc_id ORDER BY block_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'bad') AS pv,
        coalesce(first_value(CASE WHEN cf IN ('good','bad') THEN cf END IGNORE NULLS)
          OVER (PARTITION BY doc_id ORDER BY block_idx
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 'bad') AS nx
      FROM cf),
    verdicts AS (
      SELECT doc_id, block_idx,
             n_words::BIGINT AS n_words, n_stop::BIGINT AS n_stop,
             link_chars::BIGINT AS link_chars, text_chars::BIGINT AS text_chars,
             btext, cf,
             CASE WHEN cf IN ('good','bad') THEN cf
                  WHEN cf = 'neargood' THEN
                    (CASE WHEN pv = 'good' OR nx = 'good' THEN 'good' ELSE 'bad' END)
                  ELSE
                    (CASE WHEN pv = 'good' AND nx = 'good' THEN 'good' ELSE 'bad' END)
             END AS cls
      FROM ctx)"""

  // ------------------------------------------------------------------
  // HTML head-metadata extraction + SURT keys (q182): the per-record
  // fields crawl corpora actually store beside the payload — <title>,
  // the html lang attribute, link rel=canonical, meta description —
  // plus the SURT form of the page URL (Sort-friendly URI Reordering
  // Transform, the public CommonCrawl/OpenWayback index key: host
  // labels reversed and comma-joined, then ')' + path) so records
  // sort/range-scan by registrable domain. All single-regex map work;
  // zero exchanges.
  // ------------------------------------------------------------------

  /** Inner text of the first <title> element (entity/charref decoded). */
  def htmlTitle(html: Column): Column =
    htmlInnerText(regexp_extract(html, "(?is)<title[^>]*>(.*?)</title>", 1))

  /** The html element's lang attribute ('' when absent). */
  def htmlLangAttr(html: Column): Column =
    regexp_extract(html, "(?is)<html\\b[^>]*?\\blang\\s*=\\s*\"([^\"]*)\"", 1)

  /** content= of a named <meta>, NULL when the tag is absent. `name`
    * is regex-quoted, so a caller-supplied token containing regex
    * metacharacters matches literally instead of breaking the parse. */
  def metaContent(html: Column, name: String): Column = {
    val qn = java.util.regex.Pattern.quote(name)
    val re = s"""(?is)<meta\\b[^>]*?\\bname\\s*=\\s*"$qn"[^>]*?\\bcontent\\s*=\\s*"([^"]*)""""
    val got = regexp_extract(html, re, 1)
    when(html.rlike(re), got).otherwise(lit(null).cast("string"))
  }

  /** href of <link rel="canonical">, NULL when absent. */
  def relCanonical(html: Column): Column = {
    val re = """(?is)<link\b[^>]*?\brel\s*=\s*"canonical"[^>]*?\bhref\s*=\s*"([^"]*)""""
    when(html.rlike(re), regexp_extract(html, re, 1))
      .otherwise(lit(null).cast("string"))
  }

  /** SURT key of a (host, path) pair: labels reversed + ')' + path —
    * `com,example)/docs/7`. */
  def surtKey(host: Column, path: Column): Column =
    concat(array_join(reverse(split(host, "\\.")), ","), lit(")"), path)

  // ------------------------------------------------------------------
  // Canonical-fed URL collapse (q190, r20 — closing r19 gap #3): the
  // page's own <link rel=canonical> is the strongest crawl-dedup
  // signal after content hash, and <meta name=robots> noindex is the
  // page's opt-out — both must FEED the q158 collapse, not just sit in
  // the q182 metadata table.
  // ------------------------------------------------------------------

  /** Canonical-aware collapse of (doc_id, url, html) pages:
    *   - pages whose meta robots carries `noindex` are EXCLUDED before
    *     any grouping (the page opted out of the index);
    *   - the collapse key is [[canonicalUrl]] of the page's DECLARED
    *     canonical when one exists, else of its own URL — so
    *     tracking-variant pages that declare the clean page collapse
    *     into it even when string canonicalization alone could not
    *     equate them (real `?v=` params are not in the tracker list);
    *   - survivorship prefers a SELF-CANONICAL member (a page whose
    *     own URL canonicalizes to the cluster key — the actual
    *     canonical target) over plain min-doc_id: when the clean page
    *     and its variants share a cluster, the clean page survives
    *     even when a variant has the smaller doc_id. Encoded as one
    *     arithmetic argmin ((self ? 0 : 1e12) + doc_id), exactly
    *     replayable in SQL.
    *
    * 100 TB shape: extraction and key derivation are pure maps; ONE
    * partial-agg groupBy on the canonical key — the same exchange
    * budget as q158. */
  def canonicalCollapse(pages: org.apache.spark.sql.DataFrame,
      url: Column, html: Column): org.apache.spark.sql.DataFrame = {
    val SELF = 1000000000000L
    pages
      .select(col("doc_id"), url.as("__url"),
        relCanonical(html).as("__decl"),
        metaContent(html, "robots").as("__robots"))
      .filter(!coalesce(col("__robots"), lit("")).contains("noindex"))
      .select(col("doc_id"), col("__decl"),
        canonicalUrl(coalesce(col("__decl"), col("__url"))).as("canon_key"),
        canonicalUrl(col("__url")).as("__own"))
      .select(col("doc_id"), col("__decl"), col("canon_key"),
        (when(col("__own") === col("canon_key"), lit(0L))
          .otherwise(lit(SELF)) + col("doc_id")).as("__rank"))
      .groupBy(col("canon_key"))
      .agg(count(lit(1)).as("n_pages"),
        sum(when(col("__decl").isNotNull, 1L).otherwise(0L))
          .as("n_declared"),
        (min(col("__rank")) % SELF).as("survivor"))
  }

  /** q190 fixture URL: group pages `/p/{doc_id div 5}` per source —
    * the CLEAN page (no query) at doc_id % 5 == 3 (deliberately NOT
    * the group minimum, so canonical-target survivorship visibly
    * beats min-doc_id), content variants `?v={doc_id % 5}` otherwise.
    * `v` is a REAL parameter (not a tracker), so string
    * canonicalization alone cannot collapse the variants. */
  private[graft] def canonicalFixtureUrl(docId: Column,
      source: Column): Column = {
    val g = (docId.cast("long") / 5).cast("long").cast("string")
    concat(lit("https://"), source, lit(".com/p/"), g,
      when(docId % 5 === 3, lit(""))
        .otherwise(concat(lit("?v="), (docId % 5).cast("string"))))
  }

  /** q190 fixture head: variants doc_id % 5 in {0,1,2} declare the
    * group's clean page as canonical; % 5 == 4 declares nothing (it
    * stays its own cluster); % 7 == 2 opts out via meta robots
    * `noindex` (which can remove a cluster's clean page — the
    * fallback survivor path is then under test). */
  private[graft] def canonicalFixtureHtml(docId: Column,
      source: Column): Column = {
    val g = (docId.cast("long") / 5).cast("long").cast("string")
    concat(
      lit("<html><head><title>p</title>"),
      when(docId % 5 < 3, concat(
        lit("<link rel=\"canonical\" href=\"https://"), source,
        lit(".com/p/"), g, lit("\">"))).otherwise(lit("")),
      when(docId % 7 === 2,
        lit("<meta name=\"robots\" content=\"noindex,follow\">"))
        .otherwise(lit("")),
      lit("</head><body><p>x</p></body></html>"))
  }

  private lazy val CANONICAL_ORACLE = """
    WITH d AS (
      SELECT doc_id, source, doc_id // 5 AS g, doc_id % 5 AS v
      FROM documents
      WHERE doc_id % 7 <> 2),
    k AS (
      SELECT doc_id,
             source || '.com/p/' || g ||
               (CASE WHEN v = 4 THEN '?v=4' ELSE '' END) AS canon_key,
             (v < 3) AS declared,
             (v = 3 OR v = 4) AS self
      FROM d)
    SELECT canon_key,
           count(*) AS n_pages,
           sum(CASE WHEN declared THEN 1 ELSE 0 END)::BIGINT AS n_declared,
           (min((CASE WHEN self THEN 0 ELSE 1000000000000 END) + doc_id)
             % 1000000000000)::BIGINT AS survivor
    FROM k
    GROUP BY 1"""

  /** The q182 fixture: a head carrying every field class by residue —
    * title always (with an entity under decode), description for
    * doc_id % 3 != 1, canonical for doc_id % 2 == 0, meta robots for
    * doc_id % 7 == 2 (`noindex,nofollow` — the crawl-control field a
    * corpus index must honor, r20) — over a minimal body. */
  private[graft] def syntheticMetaHtml(text: Column, docId: Column,
      lang: Column, source: Column): Column = {
    val ws = split(text, " ")
    concat(
      lit("<html lang=\""), lang, lit("\"><head><title>"),
      element_at(ws, 1), lit(" "), element_at(ws, 2),
      lit(" &amp; "), upper(source), lit("</title>"),
      when(docId % 3 =!= 1, concat(
        lit("<meta name=\"description\" content=\""),
        array_join(slice(ws, lit(1), lit(5)), " "), lit("\">")))
        .otherwise(lit("")),
      when(docId % 2 === 0, concat(
        lit("<link rel=\"canonical\" href=\"https://"), source,
        lit(".com/docs/"), (docId.cast("long") / 5).cast("long").cast("string"),
        lit("\">"))).otherwise(lit("")),
      when(docId % 7 === 2,
        lit("<meta name=\"robots\" content=\"noindex,nofollow\">"))
        .otherwise(lit("")),
      lit("</head><body><p>"), array_join(ws, " "),
      lit("</p></body></html>"))
  }

  private lazy val META_ORACLE = """
    WITH d AS (
      SELECT doc_id, lang, source, string_split(text, ' ') AS ws
      FROM documents)
    SELECT doc_id,
           lang AS lang_attr,
           ws[1] || ' ' || ws[2] || ' & ' || upper(source) AS title,
           CASE WHEN doc_id % 3 <> 1
                THEN array_to_string(ws[1:5], ' ') END AS description,
           CASE WHEN doc_id % 2 = 0
                THEN 'https://' || source || '.com/docs/' ||
                     CAST(doc_id // 5 AS VARCHAR) END AS canonical,
           CASE WHEN doc_id % 7 = 2 THEN 'noindex,nofollow' END
             AS robots_meta,
           'com,' || source || ')/docs/' || CAST(doc_id // 5 AS VARCHAR) ||
             (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) AS surt
    FROM d"""

  /** q181 oracle: good-block texts (from the extended verdicts CTEs)
    * joined into the extracted page EXACTLY as the engine joins them
    * (array_to_string over the in-order good list; a no-good-blocks doc
    * yields the empty page, whose split is [''] on both engines), then
    * the q175 Gopher signal/verdict formulas replayed on that page.
    * Composition boundary under test: WHICH blocks feed the doc-shape
    * statistics (the q97/q161 lesson). */
  /** Good-block page assembly per doc — the SQL twin of the engine's
    * good-block `array_join` (a no-good-blocks doc yields the empty
    * page). Expects the [[HTML_BLOCK_CTES]] `verdicts` upstream; shared
    * by the q181 and q188 composition oracles. */
  private[graft] lazy val MAINPAGE_CTE = """mainpage AS (
      SELECT dd.doc_id,
             coalesce(gb.page, '') AS page
      FROM (SELECT DISTINCT doc_id FROM d) dd
      LEFT JOIN (
        SELECT doc_id,
               array_to_string(list(btext ORDER BY block_idx), chr(10)) AS page
        FROM verdicts WHERE cls = 'good' GROUP BY doc_id) gb
      USING (doc_id))"""

  private lazy val EXTRACT_ADMISSION_ORACLE = s"""
    WITH $HTML_BLOCK_CTES,
    $MAINPAGE_CTE,
    ${gopherReplaySql("mainpage")}
    SELECT doc_id, n_words, word_chars, n_lines, n_bullet, n_ellipsis_end,
           n_symbols, n_alpha_words, req_stop_hits, gopher_pass
    FROM gop"""

  private lazy val HTML_ORACLE = s"""
    WITH $HTML_BLOCK_CTES
    SELECT doc_id, block_idx, n_words, n_stop, link_chars, text_chars,
           cf, cls
    FROM verdicts"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q168_html_extract",
      (s, d) =>
        // parse REAL HTML (the closed-form fixture rendered per doc) back
        // into per-block integer features + both classification verdicts;
        // the oracle recomputes the expectation from the generative
        // formula, so the parse itself is what's under test
        htmlBlockRows(documents(s, d),
          syntheticHtml(col("text"), col("doc_id"))),
      Some(HTML_ORACLE),
      "HTML boilerplate extraction (jusText shape): block segmentation + link/stopword-density classification + context pass, all in the array domain of one zero-exchange projection"),

    QueryDef(
      "q169_line_quality",
      (s, d) => lineQualityRel(documents(s, d),
        syntheticPage(col("text"), col("doc_id"))),
      Some(LINE_ORACLE),
      "line-level C4/FineWeb quality rules: javascript / terminal-punctuation / min-words line filters + duplicate-line fraction and page verdict, array-domain, zero exchanges"),

    QueryDef(
      "q172_c4_badwords",
      (s, d) => {
        // banned-hit count rides the passthrough arm of the line-rule
        // projection chain: one staged select computes the page ONCE,
        // the regexp hit count and every line-rule column derive from
        // that alias — scan -> project, zero exchanges
        val base = documents(s, d)
          .select(col("doc_id"),
            bannedSyntheticPage(col("text"), col("doc_id")).as("__page"))
          .select(col("doc_id"), col("__page"),
            bannedHits(col("__page")).as("banned_hits"))
        lineQualityRel(base, col("__page"), passthrough = Seq("banned_hits"))
          .withColumn("final_pass",
            (col("page_pass") === 1 && col("banned_hits") === 0).cast("long"))
      },
      Some(C4_ORACLE),
      "C4 banned-word page filter (Raffel et al. 2020 §2.2): case-insensitive whole-word banned-set hit count composed with the q169 line verdict into a final page admission, zero exchanges"),

    QueryDef(
      "q175_gopher_rules",
      (s, d) => gopherRulesRel(documents(s, d),
        gopherSyntheticPage(col("text"), col("doc_id"))),
      Some(GOPHER_ORACLE),
      "Gopher document-level quality composite (Rae et al. 2021 §A1.1): word-count / mean-word-length / symbol-ratio / bullet-and-ellipsis line fractions / alpha-word fraction / required-stopword coverage, all integer comparisons, zero exchanges"),

    QueryDef(
      "q173_outlink_graph",
      (s, d) => {
        // parse REAL <a href> targets out of the rendered fixture and
        // resolve each against the page's rawUrl host; the oracle
        // recomputes the expected multiset from the fixture residues,
        // so the extraction + resolution walk is what's under test
        val pages = documents(s, d)
          .select(col("doc_id"),
            syntheticLinkedHtml(col("text"), col("doc_id")).as("__html"),
            pageHost(rawUrl(col("doc_id"), col("source"))).as("__src"))
        outlinkHostGraph(pages, col("__html"), col("__src"))
      },
      Some(OUTLINK_ORACLE),
      "outlink extraction + host-level web graph (the CommonCrawl webgraph shape): href parse, scheme-class resolution, www-stripped host normalization, two partial-agg rollups to (src_host, dst_host) edges"),

    QueryDef(
      "q182_html_meta",
      (s, d) => {
        // parse the rendered head back out; the SURT key derives from
        // the page's rawUrl host + path (the q173 host machinery)
        val base = documents(s, d)
          .select(col("doc_id"),
            syntheticMetaHtml(col("text"), col("doc_id"),
              col("lang"), col("source")).as("__html"),
            rawUrl(col("doc_id"), col("source")).as("__url"))
          .select(col("doc_id"), col("__html"),
            pageHost(col("__url")).as("__host"),
            regexp_extract(
              regexp_replace(col("__url"), "^(?i)https?://", ""),
              "^[^/?#]*([^?#]*)", 1).as("__path"))
        base.select(col("doc_id"),
          htmlLangAttr(col("__html")).as("lang_attr"),
          htmlTitle(col("__html")).as("title"),
          metaContent(col("__html"), "description").as("description"),
          relCanonical(col("__html")).as("canonical"),
          metaContent(col("__html"), "robots").as("robots_meta"),
          surtKey(col("__host"), col("__path")).as("surt"))
      },
      Some(META_ORACLE),
      "HTML head-metadata extraction (title/lang/canonical/description/meta-robots — the fields crawl corpora store per record) + the SURT index key (reversed host labels + path), pure map"),

    QueryDef(
      "q181_extract_admission",
      (s, d) => {
        // the production chain extract -> doc-shape gate as ONE query:
        // parse real HTML to classified blocks, join the good blocks
        // into the extracted page, run the q175 Gopher rules on THAT
        // text. Individually-green stages can drift at the boundary
        // (which blocks feed the statistics) — the composition oracle
        // pins it. Zero exchanges end to end: parse, extraction and
        // rules all stage through projections.
        val pages = classifiedBlocksRel(documents(s, d),
            syntheticHtml(col("text"), col("doc_id")))
          .select(col("doc_id"), array_join(transform(
            filter(col("blocks"), b => b.getField("cls") === "good"),
            b => b.getField("text")), "\n").as("__page"))
        gopherRulesRel(pages, col("__page"))
      },
      Some(EXTRACT_ADMISSION_ORACLE),
      "composed extract->admission chain: jusText block parse, good-block page assembly, Gopher doc-shape verdict on the EXTRACTED text — the composition boundary (which blocks feed the statistics) carries its own oracle"),

    QueryDef(
      "q178_host_rank",
      (s, d) => {
        // q173's parsed host graph, EXTERNAL edges only, symmetrized,
        // through q133's exact-integer weighted PageRank — string
        // hosts ride as vertex ids directly
        val pages = documents(s, d)
          .select(col("doc_id"),
            syntheticLinkedHtml(col("text"), col("doc_id")).as("__html"),
            pageHost(rawUrl(col("doc_id"), col("source"))).as("__src"))
        val ext = outlinkHostGraph(pages, col("__html"), col("__src"))
          .filter(col("internal") === 0)
          .select(col("src_host").as("src"), col("dst_host").as("dst"),
            col("n_links").as("w"))
        graft.operators.IterativeGraph.pageRankWeighted(
            graft.operators.IterativeGraph.symmetrized(ext, carry = Seq("w")),
            HOST_RANK_ITERS, HOST_RANK_SCALE)
          .select(col("v").as("host"), col("r"))
      },
      Some(HOST_RANK_ORACLE),
      "host-rank quality prior: q173's parsed external host edges, symmetrized, through the exact-integer weighted PageRank recurrence — the cc-webgraph host ranking as a composition with its own oracle"),

    QueryDef(
      "q176_anchor_terms",
      (s, d) => {
        val pages = documents(s, d)
          .select(col("doc_id"),
            syntheticAnchorHtml(col("text"), col("doc_id")).as("__html"),
            pageHost(rawUrl(col("doc_id"), col("source"))).as("__src"))
        anchorTermIndex(pages, col("__html"), col("__src"))
      },
      Some(ANCHOR_ORACLE),
      "anchor-text aggregation per destination host (the ORCAS/anchor-corpus shape): aligned dual-group href/text extraction, host resolution with the q173 drop classes, inner-text strip, one partial-agg groupBy on (dst_host, term)"),

    QueryDef(
      "q158_url_dedup",
      (s, d) => {
        val raw = documents(s, d)
          .select(col("doc_id"), rawUrl(col("doc_id"), col("source")).as("url"))
        raw.select(col("doc_id"), col("url"),
            canonicalUrl(col("url")).as("canon_url"))
          .groupBy(col("canon_url"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("url")).as("n_raw_variants"),
            min(col("doc_id")).as("survivor"))
      },
      Some(ORACLE),
      "URL canonicalization + collapse: map-side scheme/www/slash/tracker/param-order normalization, one groupBy on the canonical key"),

    QueryDef(
      "q190_canonical_collapse",
      (s, d) => {
        val pages = documents(s, d)
          .select(col("doc_id"),
            canonicalFixtureUrl(col("doc_id"), col("source")).as("__u"),
            canonicalFixtureHtml(col("doc_id"), col("source")).as("__h"))
        canonicalCollapse(pages, col("__u"), col("__h"))
      },
      Some(CANONICAL_ORACLE),
      "canonical-fed URL collapse: rel=canonical parsed from each page feeds the q158 collapse key (variants declaring a clean page collapse into it where string canonicalization cannot), meta-robots noindex pages opt out before grouping, and survivorship prefers the self-canonical target over min-doc_id — pure-map extraction, one partial-agg groupBy"),

    QueryDef(
      "q161_curation_funnel",
      (s, d) => {
        // END-TO-END curation funnel composed from this round's stages —
        // the q97 lesson applied to the r14 operators: individually green
        // stages can still drift at their BOUNDARIES (which population
        // each stage computes its statistics on), so the composition gets
        // its own oracle. Pipeline, in production order:
        //   (1) URL-canonical dedup (q158's operator): keep each
        //       canonical URL's min-doc_id survivor;
        //   (2) per-source percentile gate (q159's operator) with the
        //       P25 cut computed ON THE SURVIVORS — dedup first, then
        //       gate, the order real pipelines use (gating before dedup
        //       would let duplicate mass move the threshold);
        //   (3) temperature admission (q151's operator) with thresholds
        //       derived from the GATED population.
        // Output: one funnel row per source — raw, post-dedup, post-gate
        // and admitted doc counts plus admitted whitespace-token mass
        // (the number a mixture planner actually consumes).
        // 100 TB shape: every stage is map-side scoring plus one
        // partial-agg exchange (canon collapse, score histogram,
        // source counts); the funnel rollup is one more groupBy on the
        // bounded source roster. Zero-token docs exit at the gate stage
        // by construction (no score), mirrored in the oracle.
        import org.apache.spark.sql.expressions.Window
        val docs = documents(s, d)
          .select(col("doc_id"), col("source"),
            TextAnalysis.tokens(col("text")).as("w"))
        val canon = docs
          .withColumn("canon_url",
            canonicalUrl(rawUrl(col("doc_id"), col("source"))))
        // lease-cache the SMALL frames every downstream stage re-derives:
        // survivor ids (one row per canonical group, no token arrays) and
        // the scored survivors (the population three stages consume) —
        // uncached, the funnel re-executed the documents scan + tokenize
        // subtree 15x (measured in the plan); leased, the corpus subtree
        // runs once per population. Harnesses clearCache per query;
        // library callers release via graft.Caches. The scored cache
        // carries ntok, NOT the token arrays: every downstream consumer
        // reads only size(w), so caching w would hold roughly the whole
        // corpus token mass resident for a funnel that needs one long
        // per doc (the r14 verdict's cache-narrowing directive).
        val survivorIds = graft.Caches.lease(canon.groupBy(col("canon_url"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id")))
        val survivors = docs
          .join(survivorIds, Seq("doc_id"), "left_semi")
        val scored = graft.Caches.lease(survivors
          .filter(size(col("w")) > 0)
          .select(col("doc_id"), col("source"),
            size(col("w")).cast("long").as("ntok"),
            TextAnalysis.lexDiversityScore4("w").as("score4")))
        val hist = scored.groupBy(col("source"), col("score4"))
          .agg(count(lit(1)).as("cnt"))
        val wsp = Window.partitionBy(col("source")).orderBy(col("score4"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val thr = hist
          .withColumn("cum", sum(col("cnt")).over(wsp))
          .withColumn("n", sum(col("cnt")).over(
            Window.partitionBy(col("source"))))
          .filter(col("cum") * 4 >= col("n"))
          .groupBy(col("source")).agg(min(col("score4")).as("thr4"))
        val gated = scored.join(broadcast(thr), Seq("source"))
          .filter(col("score4") >= col("thr4"))
          .select(col("doc_id"), col("source"), col("ntok"))
        val admit = gated
          .join(broadcast(Mixture.admissionThresholds(gated)
            .select(col("source"), col("k"))), Seq("source"))
          .withColumn("kept", Mixture.keptUnder(col("doc_id"), col("k")))
        val raw = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_raw"))
        val surv = survivors.groupBy(col("source"))
          .agg(count(lit(1)).as("n_dedup"))
        val funnel = admit.groupBy(col("source"))
          .agg(count(lit(1)).as("n_gated"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_admitted"),
            sum(when(col("kept"), col("ntok")).otherwise(0L)).as("tok_admitted"))
        raw.join(surv, Seq("source")).join(funnel, Seq("source"))
      },
      Some("""
        WITH docs AS (
          SELECT doc_id, source,
                 list_filter(string_split(text, ' '), t -> t <> '') AS w
          FROM documents),
        raw_url AS (
          SELECT doc_id, source, w,
            (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END) ||
            (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' || upper(source) || '.COM'
                  ELSE source || '.com' END) ||
            '/docs/' || CAST(doc_id // 5 AS VARCHAR) ||
            (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
            (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=1&a=2'
                  ELSE '?a=2&b=1&utm_campaign=x' END) ||
            (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END) AS url
          FROM docs),
        pre AS (
          SELECT doc_id, source, w,
                 regexp_replace(regexp_replace(url, '#.*$', ''),
                   '^(?i)https?://', '') AS ns
          FROM raw_url),
        split AS (
          SELECT doc_id, source, w,
                 split_part(ns, '?', 1) AS base,
                 CASE WHEN strpos(ns, '?') > 0
                      THEN substr(ns, strpos(ns, '?') + 1) ELSE '' END AS q
          FROM pre),
        canon AS (
          SELECT doc_id, source, w,
            regexp_replace(lower(split_part(base, '/', 1)), '^www\.', '') ||
            regexp_replace(substr(base, length(split_part(base, '/', 1)) + 1),
              '/+$', '') ||
            (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
                  ELSE '' END) AS canon_url
          FROM (SELECT doc_id, source, w, base,
                  list_sort(list_filter(string_split(q, '&'), p ->
                    p <> '' AND NOT starts_with(p, 'utm_')
                           AND NOT starts_with(p, 'ref='))) AS kept
                FROM split)),
        survivors AS (
          SELECT doc_id, source, w FROM canon
          WHERE doc_id IN (SELECT min(doc_id) FROM canon GROUP BY canon_url)),
        scored AS (
          SELECT doc_id, source, w,
                 (len(list_distinct(w)) * 10000) // len(w) AS score4
          FROM survivors WHERE len(w) > 0),
        hist AS (
          SELECT source, score4, count(*) AS cnt FROM scored GROUP BY 1, 2),
        cum AS (
          SELECT source, score4,
                 sum(cnt) OVER (PARTITION BY source ORDER BY score4
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum(cnt) OVER (PARTITION BY source) AS n
          FROM hist),
        thr AS (
          SELECT source, min(score4) AS thr4
          FROM cum WHERE cum * 4 >= n GROUP BY 1),
        gated AS (
          SELECT s.doc_id, s.source, s.w
          FROM scored s JOIN thr t USING (source)
          WHERE s.score4 >= t.thr4),
        counts AS (
          SELECT source, count(*)::BIGINT AS n_docs FROM gated GROUP BY 1),
        weights AS (
          SELECT source, n_docs,
                 CASE WHEN (r0 + CASE WHEN (r0+1)*(r0+1) <= x THEN 1 ELSE 0 END)
                           * (r0 + CASE WHEN (r0+1)*(r0+1) <= x THEN 1 ELSE 0 END) > x
                      THEN r0 + CASE WHEN (r0+1)*(r0+1) <= x THEN 1 ELSE 0 END - 1
                      ELSE r0 + CASE WHEN (r0+1)*(r0+1) <= x THEN 1 ELSE 0 END
                 END AS w
          FROM (SELECT source, n_docs, n_docs * 1048576 AS x,
                       CAST(floor(sqrt((n_docs * 1048576)::DOUBLE)) AS BIGINT) AS r0
                FROM counts)),
        tot AS (
          SELECT sum(n_docs)::BIGINT AS n_total, sum(w)::BIGINT AS sum_w
          FROM weights),
        thresholds AS (
          SELECT source,
                 least(65536::BIGINT, CAST(
                   ((n_total // 2)::HUGEINT * w::HUGEINT * 65536)
                     // (sum_w::HUGEINT * n_docs::HUGEINT) AS BIGINT)) AS k
          FROM weights, tot),
        admit AS (
          SELECT g.source, g.doc_id, len(g.w)::BIGINT AS nw,
                 (t.k >= 65536 OR
                  substr(md5('temp:' || g.doc_id::VARCHAR), 1, 4) <
                    lower(lpad(hex(t.k), 4, '0'))) AS kept
          FROM gated g JOIN thresholds t USING (source)),
        raw AS (SELECT source, count(*) AS n_raw FROM docs GROUP BY 1),
        surv AS (SELECT source, count(*) AS n_dedup FROM survivors GROUP BY 1),
        funnel AS (
          SELECT source, count(*) AS n_gated,
                 cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) as bigint) AS n_admitted,
                 cast(sum(CASE WHEN kept THEN nw ELSE 0 END) as bigint) AS tok_admitted
          FROM admit GROUP BY 1)
        SELECT r.source, r.n_raw, s.n_dedup, f.n_gated, f.n_admitted,
               f.tok_admitted
        FROM raw r JOIN surv s USING (source) JOIN funnel f USING (source)"""),
      "composed curation funnel: URL-canonical dedup -> per-source percentile gate (cut on survivors) -> temperature admission (thresholds on gated) -> per-source funnel report"))
}
