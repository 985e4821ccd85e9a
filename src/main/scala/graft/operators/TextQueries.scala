package graft.operators

import graft.Tables
import graft.functions.Texts._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text / scalar-function operators — SURVEY.md §2.9 (F1–F24) and the
  * text-analysis surface of the LLM-pipeline extension (language-ID,
  * quality scoring, token counting, fingerprinting) over the `documents`
  * table.
  *
  * All per-document computations are narrow (no shuffle) — at 100 TB they
  * scale linearly with input splits; the only wide stages here are the
  * explicit final aggregations.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Language marker vocabularies for the n-gram-heuristic language ID.
    * Pinned so the DuckDB oracle mirrors exactly. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to"),
    "de" -> Seq("der", "die", "und", "das"),
    "es" -> Seq("el", "la", "los", "que"),
    "fr" -> Seq("le", "les", "et", "dans"))

  /** Synthetic messy URL (case/port/fragment/param-order variants of one
    * logical URL per doc-group, built from table columns — the corpus
    * has no URLs) canonicalized: lowercase scheme+host, default ports
    * stripped, fragment dropped, tracking params removed, params
    * sorted. Shared by ta_url_canonical and dd_url_dedup; mirrored by
    * [[urlCanonSql]]. Row-local, shuffle-free at any corpus size. */
  private[operators] def canonicalUrl: org.apache.spark.sql.Column = {
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
      when(col("doc_id") % 5 === 0, upper(col("source"))).otherwise(col("source")),
      lit(".Example.ORG"),
      when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit("")),
      lit("/docs/"), col("doc_id") % 50,
      lit("?b=2&utm_source=feed&a="), col("lang"),
      when(col("doc_id") % 3 === 0, lit("#section-2")).otherwise(lit("")))
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val host = lower(regexp_extract(url, "://([^/:?#]+)", 1))
    val port = regexp_extract(url, "^[A-Za-z]+://[^/:?#]+:(\\d+)", 1)
    val path = regexp_extract(url, "://[^/?#]+([^?#]*)", 1)
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    val params = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.startsWith("utm_")))
    val keepPort = port =!= "" &&
      !(scheme === "https" && port === "443") &&
      !(scheme === "http" && port === "80")
    concat(scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      path,
      when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
        .otherwise(lit("")))
  }

  /** DuckDB mirror of [[canonicalUrl]] as a CTE chain ending in
    * `canon(doc_id, n_chars, url)`. */
  private[operators] val urlCanonSql: String =
    """u AS (
      |  SELECT doc_id, n_chars,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END) ||
      |    '.Example.ORG' ||
      |    (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END) ||
      |    '/docs/' || (doc_id % 50) ||
      |    '?b=2&utm_source=feed&a=' || lang ||
      |    (CASE WHEN doc_id % 3 = 0 THEN '#section-2' ELSE '' END) AS url
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_chars,
      |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
      |    lower(regexp_extract(url, '://([^/:?#]+)', 1)) AS host,
      |    regexp_extract(url, '^[A-Za-z]+://[^/:?#]+:(\d+)', 1) AS port,
      |    regexp_extract(url, '://[^/?#]+([^?#]*)', 1) AS path,
      |    regexp_extract(url, '\?([^#]*)', 1) AS query
      |  FROM u),
      |p AS (
      |  SELECT doc_id, n_chars, scheme, host, port, path,
      |    array_to_string(list_sort(list_filter(string_split(query, '&'),
      |      x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&') AS q
      |  FROM c),
      |canon AS (
      |  SELECT doc_id, n_chars, scheme || '://' || host ||
      |    (CASE WHEN port <> ''
      |           AND NOT (scheme = 'https' AND port = '443')
      |           AND NOT (scheme = 'http' AND port = '80')
      |          THEN ':' || port ELSE '' END) ||
      |    path ||
      |    (CASE WHEN q <> '' THEN '?' || q ELSE '' END) AS url
      |  FROM p)""".stripMargin

  /** Decomposed (NFD-style) suffix for the F26 normalization probe:
    * "cafe" + COMBINING ACUTE, "nai" + COMBINING DIAERESIS + "ve" —
    * built from escapes so the source literal itself can't be silently
    * precomposed by an editor. Shared verbatim with the DuckDB oracle.
    * (r20 review: the literal previously held the raw combining-mark
    * BYTES -- exactly the form an NFC-normalizing formatter or git
    * filter silently precomposes, degenerating the probe to comparing
    * already-composed input with itself while this comment kept
    * claiming the escape construction prevented it. Now the escapes
    * are real: \u0301 COMBINING ACUTE, \u0308 COMBINING DIAERESIS.) */
  private val DecomposedSuffix = " cafe\u0301 nai\u0308ve"

  val queries: Map[String, Q] = Map(
    // F1–F3 clean_text normalization chain (pdf_to_orpml.py:29-57).
    "f1_clean_text" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), cleanText(col("text")).as("cleaned"))
    }),

    // F4 stopword removal + tokenization (check_duplicate/utils.py:13-19).
    // Token array rendered to a ','-joined string at the output boundary
    // (driver's pandas compare can't hash array cells).
    "f4_stopword_tokens" -> ((s, d) => {
      // no array_distinct (r20 review): removeStopwords is array_except,
      // which already deduplicates — the extra pass was a per-row no-op
      // over every token array at corpus scale
      Tables.documents(s, d)
        .select(col("doc_id"),
          array_join(array_sort(
            removeStopwords(tokens(col("text")), StopWords)), ",")
            .as("content_words"))
    }),

    // F8 stable node-id hashing (shake-256 ids → portable md5-60bit here;
    // functions.py:5-7, data_preprocess.py:21-23).
    "f8_hash_id" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5Long(concat_ws("_", col("source"), col("doc_id"))).as("node_id"))
    }),

    // F11 smart_shortener: first-N-words prefix (summarisation/utils.py:4-15).
    "f11_smart_shorten" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), smartShorten(col("text"), 20).as("short_text"))
    }),

    // F13 PDF-style date parse round-trip: `D:YYYYMMDDHHMMSS` slice →
    // timestamp (pdf_to_orpml.py:98-106).
    "f13_date_parse" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("pdf_date",
          concat(lit("D:"), date_format(col("ts"), "yyyyMMddHHmmss")))
        .select(col("event_id"),
          date_format(to_timestamp(col("pdf_date").substr(lit(3), lit(14)),
            "yyyyMMddHHmmss"), "yyyy-MM-dd HH:mm:ss").as("parsed"))
    }),

    // F17 explicit UTC normalization (tdb_query_helpers.py:118-122:
    // Lisbon-local wall time → UTC, offset dropped, ISO render). The
    // session TZ being UTC does NOT cover this — the reference's input
    // carries a non-UTC zone, so the conversion must consult tzdata
    // (incl. DST), which to_utc_timestamp does per row.
    "f17_utc_normalize" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_id"),
          date_format(to_utc_timestamp(col("ts"), "Europe/Lisbon"),
            "yyyy-MM-dd'T'HH:mm:ss").as("ts_utc"))
    }),

    // F16 ±3-month window reconciliation (date_generation.py:77-100):
    // orders within 92 days of an anchor date. The anchor sits at the
    // synthetic orders' median date so the entry selects a non-trivial,
    // hash-checkable slice at every SF (r13 verdict: the former 2024
    // anchor matched zero rows, proving only that both engines agree on
    // empty).
    "f16_date_window" -> ((s, d) => {
      Tables.orders(s, d)
        .withColumn("d_days",
          datediff(col("o_orderdate").cast("date"), lit("1998-06-30").cast("date")))
        .filter(abs(col("d_days")) <= 92)
        .select("o_orderkey", "d_days")
    }),

    // F23 recursive JSON key search (govuk_extraction.py:7-22): every
    // `body` value at any depth, document-order DFS. The nested envelope
    // is constructed from table columns so ground truth is independently
    // derivable; the RECURSIVE walk itself is the operator under test.
    "f23_find_key" -> ((s, d) => {
      import graft.functions.JsonWalk
      val js = to_json(struct(
        col("lang").as("body"),
        struct(col("source").as("body")).as("meta"),
        array(
          struct(substring(col("text"), 1, 12).as("body")),
          struct(lit(null).cast("string").as("body"))).as("items")))
      Tables.documents(s, d)
        .select(col("doc_id"),
          array_join(JsonWalk.json_find_key(js, lit("body")), "|").as("bodies"))
    }),

    // F22 full recursive JSON flatten to (dotted.path[i], scalar) rows —
    // the Dynamo-sink attribute flattening generalized beyond fixed
    // dotted-path access (p3_json_extract).
    "f22_flatten_json" -> ((s, d) => {
      import graft.functions.JsonWalk
      val js = to_json(struct(
        col("lang").as("lang"),
        struct(col("source").as("src"),
          substring(col("text"), 1, 8).as("head")).as("meta"),
        array(lit("reg"), col("lang")).as("tags")))
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(JsonWalk.json_flatten_paths(js)).as("kv"))
        .select(col("doc_id"), col("kv.path").as("path"),
          col("kv.value").as("value"))
    }),

    // F18 numeric-token extraction (year detection,
    // legislative_origin_extraction.py:45-53).
    "f18_extract_numbers" -> ((s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey"),
          array_join(extractNumbers(col("c_name")), ",").as("nums"))
    }),

    // F24 hierarchical topic-path expansion (Glue get_topic_path): deepest
    // path = assigned topic (search_functions.py:137-140).
    "f24_topic_paths" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("topic", concat_ws("/", col("lang"), col("source")))
        .select(col("doc_id"),
          array_join(topicPaths(col("topic")), ",").as("paths"),
          col("topic").as("assigned"))
    }),

    // Text analysis: token count + length stats per document.
    "ta_token_stats" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"),
          avgTokenLen(col("text")).as("avg_tok_len"), col("n_chars"))
    }),

    // Text analysis: BPE-ish token counting — the GPT-2 pre-tokenizer
    // regex family (contractions | letter runs | digit runs | punct runs
    // | whitespace; the lookahead-free approximation, since the oracle's
    // RE2 engine has no lookarounds). Both engines use ordered
    // alternation, so counts agree exactly.
    "ta_bpe_tokens" -> ((s, d) => {
      val pat =
        "'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+"
      val toks = regexp_extract_all(col("text"), lit(pat), lit(0))
      Tables.documents(s, d)
        .select(col("doc_id"), size(toks).as("n_bpe"),
          size(array_distinct(toks)).as("n_bpe_distinct"))
    }),

    // Text analysis: composite quality score from stopword ratio and
    // length (reference quality gates are length/score thresholds,
    // title_generation.py:73-94).
    "ta_quality_score" -> ((s, d) => {
      val nTok = tokenCount(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), stopwordRatio(col("text")).as("stop_ratio"),
          round((lit(1.0) - stopwordRatio(col("text"))) *
            least(lit(1.0), nTok.cast("double") / 50.0), 6).as("quality"))
    }),

    // Composite rule-based quality filter — the Gopher/C4-style document
    // gate (MassiveText rules, Rae et al. 2021 §A1.1): length bounds,
    // mean-word-length band, alphabetic-word fraction, minimum stopword
    // evidence, symbol-token ratio; keep = AND of all rules. Every rule
    // is evaluated as an INTEGER cross-multiplication (5·n_alpha ≥ 4·n
    // instead of n_alpha/n ≥ 0.8), so there is no float rounding to
    // diverge between engines — and per-doc, narrow, no shuffle: at
    // 100 TB this runs entirely at the scan.
    "ta_gopher_rules" -> ((s, d) => {
      val toks = tokens(col("text"))
      val n = size(toks)
      val sumLen = aggregate(transform(toks, t => length(t)),
        lit(0L), (a, x) => a + x)
      val nAlpha = size(filter(toks, t => t.rlike("[a-zA-Z]")))
      val nStop = size(array_distinct(
        filter(toks, t => t.isin(StopWords.map(x => x: Any): _*))))
      val nSym = size(filter(toks,
        t => t.contains("#") || t.contains("...")))
      Tables.documents(s, d)
        .select(col("doc_id"),
          (n >= 10 && n <= 10000).as("r_len"),
          (sumLen >= n * 3 && sumLen <= n * 10).as("r_word_len"),
          (nAlpha * 5 >= n * 4).as("r_alpha"),
          (nStop >= 2).as("r_stop"),
          (nSym * 10 <= n).as("r_symbol"))
        .withColumn("keep", col("r_len") && col("r_word_len") &&
          col("r_alpha") && col("r_stop") && col("r_symbol"))
    }),

    // Text analysis: marker-vote language ID vs the labeled lang column
    // (langdetect replacement, summarisation.py:34-41 / M4).
    "ta_lang_id" -> ((s, d) => {
      val toks = tokens(col("text"))
      val votes = langMarkers.map { case (lang, ms) =>
        lang -> size(filter(toks, t => t.isin(ms.map(x => x: Any): _*)))
      }
      val Seq(en, de, es, fr) = votes.map(_._2)
      val predicted = when(en >= de && en >= es && en >= fr, "en")
        .when(de >= es && de >= fr, "de")
        .when(es >= fr, "es").otherwise("fr")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), predicted.as("predicted"),
          (predicted === col("lang")).as("correct"))
    }),

    // A6 uppercase-majority vote (postprocess_functions.py:105-110):
    // capitalize iff more than half the letters are uppercase.
    "a6_case_vote" -> ((s, d) => {
      val letters = regexp_replace(col("c_name"), "[^A-Za-z]", "")
      val uppers = regexp_replace(col("c_name"), "[^A-Z]", "")
      val voted = when(length(uppers) * 2 > length(letters),
        upper(col("c_name"))).otherwise(col("c_name"))
      Tables.customer(s, d)
        .select(col("c_custkey"), voted.as("voted"))
    }),

    // W1 rolling padded token window (get_title.py:24-46): width-4 token
    // windows over the head of the text as candidate titles, capped (O5).
    // Candidates contain spaces, so the output-boundary join uses '|'.
    "w1_candidate_titles" -> ((s, d) => {
      val toks = tokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          array_join(slice(wordNgrams(toks, 4), 1, 10), "|").as("candidates"))
    }),

    // F9 title postprocess (postprocess_functions.py:6-141 +
    // title_generation.py:60-70 junk scrub): adversarial titles are
    // constructed deterministically from the documents table (junk
    // prefix, page-of splice, TOC marker, unbalanced bracket, Crown
    // truncation, `.doc` wildcard junk, trailing stopwords, ALL-CAPS
    // heads) so every branch of the pipeline is exercised, then cleaned
    // by the native title_postprocess (TitleImpl.full). Narrow per-row
    // op — no shuffle, scales linearly with input splits.
    "f9_title_postprocess" -> ((s, d) => {
      import graft.functions.TitlePostprocess.title_postprocess
      val head = smartShorten(col("text"), 8)
      def tag(m: Int, t: String) =
        when(col("doc_id") % m === 0, lit(t)).otherwise(lit(""))
      val raw = concat(
        tag(3, "Microsoft Word - "),
        when(col("doc_id") % 11 === 0, upper(head)).otherwise(head),
        tag(4, " page 3 of 10 appendix"),
        tag(13, " Contents 1 alpha beta 2"),
        tag(5, " (Draft Annex"),
        tag(7, " Crown Copyright 2024 reserved"),
        tag(9, " report.doc"),
        tag(2, " of the t"))
      Tables.documents(s, d)
        .select(col("doc_id"), title_postprocess(raw).as("title"))
    }),

    // F5 dictionary-backed lemmatization (helpers.py:13-27): broadcast
    // lemma map join over exploded tokens, count per lemma.
    "f5_lemma_map" -> ((s, d) => {
      val lemmas = s.createDataFrame(Seq(
        ("joins", "join"), ("queries", "query"), ("rows", "row"),
        ("tables", "table"), ("sorted", "sort"), ("sorting", "sort")))
        .toDF("word", "lemma")
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("word"))
        .join(broadcast(lemmas), Seq("word"), "left")
        .select(coalesce(col("lemma"), col("word")).as("lemma"))
        .groupBy("lemma").agg(count("*").as("n"))
    }),

    // Text analysis: bag-of-words document fingerprint (rolling-hash
    // fingerprint analogue) — input to exact dedup.
    "ta_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(array_join(array_sort(array_distinct(tokens(col("text")))), " "))
            .as("fingerprint"))
    }),

    // Text analysis: PII scrub — email / IPv4 / phone redaction, the
    // standard pre-training scrub pass. The corpus carries no PII, so
    // deterministic synthetic PII is spliced in from table columns
    // first (same construction-then-operate pattern as f9/f22); the
    // regex scrub is the operator under test. Patterns avoid
    // lookarounds so Java regex and the oracle's RE2 agree. Narrow
    // per-row op — no shuffle.
    "ta_pii_scrub" -> ((s, d) => {
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id"),
        lit("@mail-"), col("source"), lit(".org"),
        lit(" ip 10."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 37) % 256).cast("string"), lit(".7"),
        lit(" tel +44 20 "),
        lpad(((col("doc_id") * 7919) % 10000).cast("string"), 4, "0"))
      val noEmail = regexp_replace(injected,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
      val noIp = regexp_replace(noEmail,
        "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>")
      val noPhone = regexp_replace(noIp,
        "\\+[0-9]{1,3}[0-9 -]{6,12}[0-9]", "<PHONE>")
      Tables.documents(s, d)
        .select(col("doc_id"), noPhone.as("scrubbed"),
          size(regexp_extract_all(noPhone,
            lit("<(EMAIL|PHONE|IP)>"), lit(0))).as("n_redactions"))
    }),

    // Text analysis: Gopher-style repetition + diversity quality signals
    // (duplicate-bigram fraction, top-word fraction, Gini–Simpson
    // vocabulary diversity). Per-word counts are computed with array
    // HOFs over the sorted distinct vocabulary — the whole query is
    // NARROW (zero shuffle), so at 100 TB it scales linearly with input
    // splits; the per-doc cost is O(tokens × vocab), bounded by doc
    // length. Diversity uses 1 − Σp² rather than entropy: only
    // divisions and multiplications, so the fold (run in the same
    // sorted word order on both engines) is bit-identical — a
    // transcendental ln could diverge in the last ulp between libms.
    "ta_repetition" -> ((s, d) => {
      val toks = tokens(col("text"))
      val big = wordNgrams(toks, 2)
      val vocab = array_sort(array_distinct(toks))
      val counts = transform(vocab,
        w => size(filter(toks, t => t === w)))
      // Gini as 1 − Σc²/n² with the sum in EXACT integer arithmetic:
      // folding (c/n)² in doubles accumulated engine-specific rounding
      // (observed one row off in the 6th decimal at sf0.1), while Σc²
      // and n² are exact longs, leaving a single IEEE division that is
      // bit-identical everywhere — so the value ships raw, un-rounded.
      val sumSq = aggregate(counts, lit(0L),
        (acc, c) => acc + c.cast("long") * c)
      // n² in LONG: int×int wraps silently past 46,340 tokens with ANSI
      // off, and the oracle's len() is already BIGINT.
      val nTok = size(toks).cast("long")
      val gini = lit(1.0) - sumSq.cast("double") /
        greatest(nTok * nTok, lit(1L)).cast("double")
      Tables.documents(s, d)
        .select(col("doc_id"),
          round(lit(1.0) - size(array_distinct(big)).cast("double") /
            greatest(size(big), lit(1)), 6).as("dup_bigram_frac"),
          round(array_max(counts).cast("double") /
            greatest(size(toks), lit(1)), 6).as("top_word_frac"),
          gini.as("gini_diversity"))
    }),

    // Text analysis: tokenizer-vocabulary induction + per-doc OOV rate —
    // the two-phase shape of corpus-level artifacts: (1) aggregate the
    // whole corpus into a small model (top-16 words by document
    // frequency, count-desc/word-asc tie-break so the cut is
    // deterministic), (2) broadcast it back over the corpus. At 100 TB
    // phase 1 is one map-side-combined word count; phase 2 is a
    // broadcast hash join — the corpus never shuffles on the word key
    // a second time.
    "ta_oov_rate" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      val vocab = words.groupBy("word").agg(count("*").as("c"))
        .orderBy(col("c").desc, col("word").asc)
        .limit(16)
        .select(col("word"), lit(1).as("in_vocab"))
      words
        .join(broadcast(vocab), Seq("word"), "left")
        .groupBy("doc_id")
        .agg(round(sum(when(col("in_vocab").isNull, 1).otherwise(0))
          .cast("double") / count("*"), 6).as("oov_rate"),
          count("*").as("n_words"))
    }),

    // Text analysis: true polynomial rolling hash (Rabin–Karp family,
    // base 131 mod 2^31−1): the whole-document fingerprint plus per-64-
    // char window hashes — the chunk fingerprints used for shift-robust
    // content-defined dedup. The same left-to-right fold runs on both
    // engines, so values match bit-for-bit.
    "ta_rolling_hash" -> ((s, d) => {
      val M = 2147483647L
      def fold(arr: org.apache.spark.sql.Column) =
        aggregate(arr, lit(0L), (acc, x) => (acc * 131L + x) % M)
      val nChunks =
        ((greatest(size(col("cs")), lit(1)) - 1) / 64).cast("int")
      Tables.documents(s, d)
        .select(col("doc_id"),
          transform(regexp_extract_all(col("text"), lit("[\\s\\S]"), lit(0)),
            c => ascii(c).cast("long")).as("cs"))
        .select(col("doc_id"), fold(col("cs")).as("poly_hash"),
          array_join(transform(sequence(lit(0), nChunks),
            i => fold(slice(col("cs"), i * 64 + 1, lit(64))).cast("string")),
            ",").as("chunk_hashes"))
    }),

    // Text analysis: char-trigram LM quality scoring (the CCNet-style
    // LM filter direction, Wenzek et al. 2020 — public method — with the
    // LM reduced to a deterministic char-trigram model trained on the
    // corpus itself). Per doc: mean log P(c|prev2) under the corpus
    // model with add-one smoothing over the corpus alphabet — low
    // scores flag atypical text (boilerplate, mojibake, wrong-language
    // residue). Scale shape: the model is alphabet³-BOUNDED (counts, not
    // text), so it collapses to a 1-ROW BROADCAST MAP and each doc
    // folds its own positions against it in order AT THE SCAN — the
    // scoring pass has no corpus-keyed exchange at all. (An earlier
    // shape joined per-occurrence and regrouped on doc_id: that
    // shuffled corpus-sized (pos, logp) structs for no reason — the
    // model is the only cross-doc state, and it is tiny. 4.6s → see
    // bench.) The per-doc sum stays a fixed-order (position-ascending)
    // IEEE fold — the accumulated-double recipe every float-shipping
    // query here follows — and only the final mean is rounded (4 dp,
    // the ix_bm25 precedent for ln-derived scores). At 100 TB the
    // model pass would persist its tiny output instead of recomputing
    // the scan; semantics unchanged.
    "ta_lm_score" -> ((s, d) => {
      val lt = Tables.documents(s, d)
        .select(col("doc_id"), lower(col("text")).as("t"))
        .filter(length(col("t")) >= 3)
      val occ = lt
        .select(col("t"),
          explode(sequence(lit(1), length(col("t")) - 2)).as("i"))
        .select(col("t").substr(col("i"), lit(3)).as("tri"))
      // c2 (bigram-prefix totals) and alpha (alphabet size) derive from
      // the ALREADY-AGGREGATED model via windows, so the model subtree —
      // and with it the corpus scan — is referenced exactly once. The
      // unpartitioned window is safe here and only here: its input is
      // the alphabet³-bounded model, never corpus-sized.
      import org.apache.spark.sql.expressions.Window
      val model = occ.groupBy("tri").agg(count(lit(1)).as("c3"))
      val modelMap = model
        .withColumn("c2", sum("c3")
          .over(Window.partitionBy(substring(col("tri"), 1, 2))))
        .withColumn("alpha", size(collect_set(substring(col("tri"), 3, 1))
          .over(Window.partitionBy())))
        .agg(map_from_arrays(collect_list(col("tri")),
          collect_list(log((col("c3") + lit(1.0)) /
            (col("c2") + col("alpha"))))).as("m"))
      val nTri = length(col("t")) - 2
      lt.crossJoin(broadcast(modelMap)) // 1-row model map (allowlisted)
        .select(col("doc_id"), nTri.cast("long").as("n_tri"),
          round(aggregate(sequence(lit(1), nTri), lit(0.0),
            (a, i) => a + element_at(col("m"),
              col("t").substr(i, lit(3)))) / nTri, 4).as("avg_ll"))
    }),

    // Text analysis: sliding-window document segmentation — the
    // context-window chunking step a pretraining/SFT pipeline runs on
    // long documents (window 64 tokens, stride 48 ⇒ 16-token overlap so
    // no boundary context is lost; the trailing short chunk is emitted,
    // drop-last is the consumer's call). One row-local explode: chunk
    // count and content derive from the doc's own token array, so the
    // stage is scan-linear with zero shuffle at any corpus size.
    "ta_chunk_stride" -> ((s, d) => {
      val toks = tokens(col("text"))
      val n = size(toks)
      Tables.documents(s, d)
        .filter(n >= 1)
        .select(col("doc_id"), toks.as("tk"), n.as("n"))
        .select(col("doc_id"), col("tk"),
          explode(filter(
            sequence(lit(0), ((col("n") - 1) / 48).cast("int")),
            i => i * 48 < col("n"))).as("i"))
        .select(col("doc_id"), col("i").as("chunk_idx"),
          size(slice(col("tk"), col("i") * 48 + 1, lit(64)))
            .as("n_tokens"),
          array_join(slice(col("tk"), col("i") * 48 + 1, lit(64)), " ")
            .as("chunk_text"))
    }),

    // Text analysis: one BPE TRAINING step (Sennrich et al. 2016,
    // public method) — the top candidate merges by corpus frequency,
    // which is the argmax decision a tokenizer trainer loops on. The
    // scale trick is the same one real trainers use: reduce the corpus
    // to its word VOCABULARY first (one keyed agg, map-side partials),
    // then count adjacent char pairs over the vocab WEIGHTED by word
    // frequency — the pair pass runs over vocab-sized input however
    // big the corpus is, and the top-10 fuses into TakeOrdered. Exact
    // integers end to end.
    "ta_bpe_merge_step" -> ((s, d) => {
      val vocab = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
      vocab.filter(length(col("w")) >= 2)
        .select(col("freq"),
          explode(transform(sequence(lit(1), length(col("w")) - 1),
            i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(10)
    }),

    // Text analysis: Flesch–Kincaid grade level (public formula) — the
    // readability feature quality stacks carry beside entropy/LM
    // scores. All three inputs are EXACT integers computed row-locally
    // (words = tokens, sentences = '.'-ish splits, syllables = vowel
    // groups per word with a 1-minimum — the standard heuristic), so
    // the only float math is two divisions and the fixed constants;
    // zero shuffle at any corpus size.
    "ta_readability" -> ((s, d) => {
      val toks = tokens(col("text"))
      val nW = size(toks)
      val nS = greatest(
        size(filter(split(col("text"), "[.!?]"), p => trim(p) =!= "")),
        lit(1))
      val syl = aggregate(toks, lit(0L), (acc, w) => acc +
        greatest(size(filter(split(lower(w), "[^aeiouy]+"),
          g => g =!= "")), lit(1)))
      Tables.documents(s, d)
        .filter(nW >= 1)
        .select(col("doc_id"), nW.as("n_words"), nS.as("n_sentences"),
          syl.as("n_syllables"),
          // RAW double, no round(): every input is an exact integer and
          // both engines evaluate the same literals in the same order,
          // so the value is bit-identical — while round(…,4) diverges
          // exactly at the half-way decimals these small-int ratios hit
          // constantly (observed at sf0.1; the sim_quantize_int8 lesson)
          (lit(0.39) * nW.cast("double") / nS +
            lit(11.8) * syl.cast("double") / nW - lit(15.59))
            .as("fk_grade"))
    }),

    // Text analysis: per-doc character entropy (Shannon, nats) — the
    // garbage/binary/mojibake detector quality stacks run beside LM
    // scoring: natural text sits in a narrow entropy band, byte noise
    // and repeated-char filler fall outside it. ENTIRELY row-local:
    // distinct chars and their counts come from in-row array ops over
    // the char explode of one document (no corpus model, no shuffle —
    // at 100 TB this runs at the scan like ta_gopher_rules), and the
    // entropy fold runs over the BINARY-SORTED distinct chars so the
    // float addition order is deterministic and oracle-reproducible
    // (H = ln n − Σ c·ln c / n; ln-derived mean ships at 4dp, the
    // ix_bm25 precedent).
    "ta_char_entropy" -> ((s, d) => {
      val chars = regexp_extract_all(col("text"), lit("[\\s\\S]"), lit(0))
      val u = array_sort(array_distinct(chars))
      val counts = transform(u,
        ch => size(filter(chars, x => x === ch)).cast("double"))
      Tables.documents(s, d)
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"), size(chars).as("n_chars_counted"),
          round(log(size(chars)) -
            aggregate(counts, lit(0.0), (a, c) => a + c * log(c)) /
              size(chars), 4).as("entropy"))
    }),

    // F26 Unicode NFC normalization (native expression, codegen'd): fold
    // combining sequences into precomposed forms so downstream hashing /
    // dedup / tokenization see one representation per grapheme. The test
    // corpus is ASCII, so decomposed suffixes are synthesized from fixed
    // combining-mark literals — len_before > len_after is the observable
    // composition, and DuckDB's independent nfc_normalize is the oracle.
    "f26_nfc_normalize" -> ((s, d) => {
      val decomposed = concat(substring(col("text"), 1, 20),
        lit(DecomposedSuffix))
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.plans.Native.nfc_normalize(decomposed).as("norm"),
          length(decomposed).as("len_before"),
          length(graft.plans.Native.nfc_normalize(decomposed))
            .as("len_after"))
    }),

    // First-occurrence-preserving dedup within a document (the C4-style
    // within-doc repeated-unit removal, applied at token granularity —
    // the test corpus has no line breaks): keep token i iff its FIRST
    // occurrence is at i. Entirely row-local higher-order functions —
    // zero shuffle at any corpus size (plan-asserted); the oracle
    // recomputes it relationally (explode → min-position window →
    // ordered re-agg), so two independent formulations must agree.
    "ta_dedup_tokens" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val kept = filter(toks, (x, i) => array_position(toks, x) === i + 1)
      Tables.documents(s, d)
        .select(col("doc_id"), array_join(kept, " ").as("dedup_text"),
          (size(toks) - size(kept)).as("n_removed"))
    }),

    // URL canonicalization + dedup census — the crawl-curation step that
    // folds URL variants onto one canonical form before per-URL dedup:
    // scheme/host lowercased, default port stripped (non-default kept),
    // fragment dropped, utm_* tracking params removed, remaining query
    // params sorted. Entirely row-local string projection (one keyed
    // count at the end), so the canonicalization itself is shuffle-free
    // at any corpus size. Messy variants are synthesized from table
    // columns (the corpus has no URLs), same device as ta_url_domains —
    // case/port/fragment/param-order variants of the same logical URL
    // must collapse to one canonical row.
    "ta_url_canonical" -> ((s, d) => {
      Tables.documents(s, d)
        .select(canonicalUrl.as("url"))
        .groupBy("url").agg(count(lit(1)).as("n_docs"))
    }),

    // URL / domain census: extract link domains from text — the crawl-
    // curation stat behind per-domain quality decisions. Row-local
    // regexp_extract_all + explode, then one keyed count; the regex is
    // alternation-free so Java and RE2 agree. Links are synthesized from
    // table columns (the corpus has none), same device as s4.
    "ta_url_domains" -> ((s, d) => {
      val t2 = concat_ws(" ", col("text"),
        concat(lit("https://"), col("source"), lit(".example.org/d/"),
          col("doc_id")),
        when(col("doc_id") % 3 === 0,
          concat(lit("http://mirror-"), col("lang"), lit(".net/x"))))
      Tables.documents(s, d)
        .select(explode(regexp_extract_all(t2,
          lit("https?://([A-Za-z0-9.-]+)"), lit(1))).as("domain"))
        .groupBy("domain").agg(count(lit(1)).as("n"))
    })
  )

  /** DuckDB transcription of the full F9 pipeline (validated against an
    * independent Python transcription of the reference in
    * tools/dev_f9.py — 500/500 docs identical). Stages mirror
    * [[graft.functions.TitleImpl]] one CTE per reference function. */
  private def f9OracleSql: String = {
    val sl = graft.functions.TitleImpl.NltkStopwords
      .map(w => "'" + w.replace("'", "''") + "'").mkString(",")
    s"""WITH raw AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 3 = 0 THEN 'Microsoft Word - ' ELSE '' END) ||
       |    (CASE WHEN doc_id % 11 = 0 THEN upper(head) ELSE head END) ||
       |    (CASE WHEN doc_id % 4 = 0 THEN ' page 3 of 10 appendix' ELSE '' END) ||
       |    (CASE WHEN doc_id % 13 = 0 THEN ' Contents 1 alpha beta 2' ELSE '' END) ||
       |    (CASE WHEN doc_id % 5 = 0 THEN ' (Draft Annex' ELSE '' END) ||
       |    (CASE WHEN doc_id % 7 = 0 THEN ' Crown Copyright 2024 reserved' ELSE '' END) ||
       |    (CASE WHEN doc_id % 9 = 0 THEN ' report.doc' ELSE '' END) ||
       |    (CASE WHEN doc_id % 2 = 0 THEN ' of the t' ELSE '' END) AS raw
       |  FROM (SELECT doc_id, array_to_string((string_split(text, ' '))[1:8], ' ') AS head
       |        FROM documents)),
       |j AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(raw,
       |      'Microsoft Word - ', '', 'g'), '.Doc', '', 'g'), '.doc', '', 'g'),
       |      '\\s+', ' ', 'g') AS t
       |  FROM raw),
       |p AS (
       |  SELECT doc_id,
       |    CASE WHEN regexp_matches(t2, '\\b(Crown Copyright|Crown copyright)\\b')
       |         THEN trim(regexp_extract(t2, '^(.*?)\\b(Crown Copyright|Crown copyright)\\b', 1))
       |         ELSE t2 END AS t
       |  FROM (SELECT doc_id, regexp_replace(t, 'page (\\d+) of (\\d+)', '') AS t2 FROM j) x),
       |b AS (
       |  SELECT doc_id,
       |    CASE WHEN length(t) - length(replace(t, '(', '')) >
       |              length(t) - length(replace(t, ')', ''))
       |         THEN t[1 : length(t) - strpos(reverse(t), '(')]
       |         ELSE t END AS t
       |  FROM p),
       |tok AS (
       |  SELECT doc_id,
       |         unnest(string_split(trim(t), ' ')) AS w,
       |         unnest(generate_series(1, len(string_split(trim(t), ' ')))) AS pos
       |  FROM b),
       |kept AS (
       |  SELECT doc_id, w, pos FROM (
       |    SELECT doc_id, w, pos,
       |           row_number() OVER (PARTITION BY doc_id, w ORDER BY pos) AS rn
       |    FROM tok) x
       |  WHERE w IN ($sl) OR rn = 1),
       |r AS (
       |  SELECT doc_id, w,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos
       |  FROM kept),
       |g AS (
       |  SELECT doc_id,
       |         max(CASE WHEN NOT (lower(w) IN ($sl) OR
       |                            (length(w) = 1 AND NOT regexp_matches(w, '^[0-9]$$')
       |                             AND lower(w) <> 'a'))
       |                  THEN pos END) AS maxgood
       |  FROM r GROUP BY doc_id),
       |cc AS (
       |  SELECT r.doc_id, r.pos,
       |    CASE WHEN r.pos = 1 OR (NOT (r.w = upper(r.w) AND r.w <> lower(r.w))
       |                            AND r.w NOT IN ($sl))
       |         THEN CASE WHEN regexp_matches(r.w[1:1], '^[A-Za-z]$$')
       |                   THEN upper(r.w[1:1]) || r.w[2:] ELSE r.w END
       |         ELSE r.w END AS w
       |  FROM r JOIN g USING (doc_id) WHERE r.pos <= g.maxgood),
       |joined AS (
       |  SELECT doc_id, coalesce(string_agg(w, ' ' ORDER BY pos), '') AS s
       |  FROM cc GROUP BY doc_id),
       |toc AS (
       |  SELECT d.doc_id, coalesce(
       |    CASE WHEN regexp_matches(s, '\\b(Contents|Table of Contents|Table of contents)\\b\\s*1\\s+\\D+?\\s+2')
       |         THEN trim(regexp_extract(s,
       |           '^(.*?)\\b(Contents|Table of Contents|Table of contents)\\b\\s*1\\s+\\D+?\\s+2', 1))
       |         ELSE s END, '') AS s
       |  FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN joined USING (doc_id))
       |SELECT doc_id,
       |  CASE WHEN length(regexp_replace(s, '[^A-Z]', '', 'g')) > length(s) / 2.0
       |            AND NOT regexp_matches(s, '[0-9]')
       |       THEN upper(s) ELSE s END AS title
       |FROM toc""".stripMargin
  }

  private val cleanSql =
    """lower(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |text, '<[^>]*>', ' ', 'g'), '\.\.\.+', '.', 'g'),
      |'([.]|,|;|:|!|\?)[.,;:!?]+', '.', 'g'), '\s+', ' ', 'g')))""".stripMargin

  private val toksSql = "list_filter(string_split(text, ' '), x -> x <> '')"

  val oracles: Map[String, String] = Map(
    "f1_clean_text" ->
      s"SELECT doc_id, $cleanSql AS cleaned FROM documents",
    "f4_stopword_tokens" ->
      s"""SELECT doc_id,
         |  array_to_string(list_sort(list_distinct(list_filter($toksSql,
         |    x -> x NOT IN ('the','a','an','and','or','of','to','in','is','it',
         |                   'for','on','with','this','that','be','as','at','by')))), ',')
         |  AS content_words
         |FROM documents""".stripMargin,
    "f8_hash_id" ->
      """SELECT doc_id,
        |  ('0x' || substr(md5(concat_ws('_', source, doc_id)), 1, 15))::BIGINT AS node_id
        |FROM documents""".stripMargin,
    "f11_smart_shorten" ->
      """SELECT doc_id,
        |  array_to_string((string_split(text, ' '))[1:20], ' ') AS short_text
        |FROM documents""".stripMargin,
    "f13_date_parse" ->
      """SELECT event_id,
        |  strftime(strptime(substr('D:' || strftime(ts, '%Y%m%d%H%M%S'), 3, 14),
        |           '%Y%m%d%H%M%S'), '%Y-%m-%d %H:%M:%S') AS parsed
        |FROM events""".stripMargin,
    "f17_utc_normalize" ->
      """SELECT event_id,
        |  strftime(timezone('UTC', timezone('Europe/Lisbon', ts::TIMESTAMP)),
        |           '%Y-%m-%dT%H:%M:%S') AS ts_utc
        |FROM events""".stripMargin,
    "f23_find_key" ->
      """SELECT doc_id,
        |  lang || '|' || source || '|' || substr(text, 1, 12) AS bodies
        |FROM documents""".stripMargin,
    "f22_flatten_json" ->
      """SELECT doc_id, 'lang' AS path, lang AS value FROM documents
        |UNION ALL SELECT doc_id, 'meta.src', source FROM documents
        |UNION ALL SELECT doc_id, 'meta.head', substr(text, 1, 8) FROM documents
        |UNION ALL SELECT doc_id, 'tags[0]', 'reg' FROM documents
        |UNION ALL SELECT doc_id, 'tags[1]', lang FROM documents""".stripMargin,
    "f16_date_window" ->
      """SELECT o_orderkey,
        |  date_diff('day', DATE '1998-06-30', o_orderdate::DATE) AS d_days
        |FROM orders
        |WHERE abs(date_diff('day', DATE '1998-06-30', o_orderdate::DATE)) <= 92""".stripMargin,
    "f18_extract_numbers" ->
      """SELECT c_custkey,
        |  array_to_string(regexp_extract_all(c_name, '[0-9]+'), ',') AS nums
        |FROM customer""".stripMargin,
    "f24_topic_paths" ->
      """SELECT doc_id,
        |  array_to_string(list_transform(generate_series(1, len(p)),
        |                  i -> array_to_string(p[1:i], '/')), ',') AS paths,
        |  concat_ws('/', lang, source) AS assigned
        |FROM (SELECT doc_id, lang, source,
        |             string_split(concat_ws('/', lang, source), '/') AS p
        |      FROM documents) t""".stripMargin,
    "ta_token_stats" ->
      s"""SELECT doc_id, len($toksSql) AS n_tokens,
         |  round(list_sum(list_transform($toksSql, t -> strlen(t)))::DOUBLE /
         |        greatest(len($toksSql), 1), 6) AS avg_tok_len,
         |  n_chars
         |FROM documents""".stripMargin,
    "ta_bpe_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+'))
        |    AS n_bpe,
        |  len(list_distinct(regexp_extract_all(text,
        |    '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+')))
        |    AS n_bpe_distinct
        |FROM documents""".stripMargin,
    "ta_quality_score" ->
      s"""WITH t AS (
         |  SELECT doc_id, len($toksSql) AS n_tokens,
         |    round(len(list_filter($toksSql,
         |      x -> x IN ('the','a','an','and','or','of','to','in','is','it',
         |                 'for','on','with','this','that','be','as','at','by')))::DOUBLE /
         |      greatest(len($toksSql), 1), 6) AS stop_ratio
         |  FROM documents)
         |SELECT doc_id, stop_ratio,
         |  round((1.0 - stop_ratio) * least(1.0, n_tokens / 50.0), 6) AS quality
         |FROM t""".stripMargin,
    "ta_gopher_rules" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |r AS (SELECT doc_id, len(tk) AS n,
         |    list_sum(list_transform(tk, x -> strlen(x)))::BIGINT AS sum_len,
         |    len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
         |    len(list_distinct(list_filter(tk,
         |      x -> x IN (${StopWords.map(w => s"'$w'").mkString(",")})))) AS n_stop,
         |    len(list_filter(tk,
         |      x -> contains(x, '#') OR contains(x, '...'))) AS n_sym
         |  FROM t)
         |SELECT doc_id,
         |  n >= 10 AND n <= 10000 AS r_len,
         |  sum_len >= n * 3 AND sum_len <= n * 10 AS r_word_len,
         |  n_alpha * 5 >= n * 4 AS r_alpha,
         |  n_stop >= 2 AS r_stop,
         |  n_sym * 10 <= n AS r_symbol,
         |  (n >= 10 AND n <= 10000) AND (sum_len >= n * 3 AND sum_len <= n * 10)
         |    AND (n_alpha * 5 >= n * 4) AND (n_stop >= 2)
         |    AND (n_sym * 10 <= n) AS keep
         |FROM r""".stripMargin,
    "ta_lang_id" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    len(list_filter($toksSql, x -> x IN ('the','and','of','to'))) AS en,
         |    len(list_filter($toksSql, x -> x IN ('der','die','und','das'))) AS de,
         |    len(list_filter($toksSql, x -> x IN ('el','la','los','que'))) AS es,
         |    len(list_filter($toksSql, x -> x IN ('le','les','et','dans'))) AS fr
         |  FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
         |       WHEN de >= es AND de >= fr THEN 'de'
         |       WHEN es >= fr THEN 'es' ELSE 'fr' END AS predicted,
         |  (CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
         |        WHEN de >= es AND de >= fr THEN 'de'
         |        WHEN es >= fr THEN 'es' ELSE 'fr' END) = lang AS correct
         |FROM t""".stripMargin,
    "a6_case_vote" ->
      """SELECT c_custkey,
        |  CASE WHEN strlen(regexp_replace(c_name, '[^A-Z]', '', 'g')) * 2
        |            > strlen(regexp_replace(c_name, '[^A-Za-z]', '', 'g'))
        |       THEN upper(c_name) ELSE c_name END AS voted
        |FROM customer""".stripMargin,
    "w1_candidate_titles" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id,
         |  array_to_string(
         |    (list_transform(generate_series(1, greatest(len(toks) - 3, 1)),
         |                    i -> array_to_string(toks[i:i+3], ' ')))[1:10], '|')
         |    AS candidates
         |FROM t""".stripMargin,
    "f9_title_postprocess" -> f9OracleSql,
    "f5_lemma_map" ->
      s"""WITH lemmas(word, lemma) AS (VALUES
         |  ('joins','join'), ('queries','query'), ('rows','row'),
         |  ('tables','table'), ('sorted','sort'), ('sorting','sort')),
         |w AS (SELECT unnest($toksSql) AS word FROM documents)
         |SELECT coalesce(l.lemma, w.word) AS lemma, count(*) AS n
         |FROM w LEFT JOIN lemmas l ON w.word = l.word
         |GROUP BY 1""".stripMargin,
    "ta_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fingerprint
         |FROM documents""".stripMargin,
    "ta_pii_scrub" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@mail-' || source || '.org'
        |      || ' ip 10.' || (doc_id % 256) || '.' || ((doc_id * 37) % 256)
        |      || '.7 tel +44 20 '
        |      || lpad(((doc_id * 7919) % 10000)::VARCHAR, 4, '0') AS t
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |      '\+[0-9]{1,3}[0-9 -]{6,12}[0-9]', '<PHONE>', 'g') AS scrubbed
        |  FROM inj)
        |SELECT doc_id, scrubbed,
        |  len(regexp_extract_all(scrubbed, '<(EMAIL|PHONE|IP)>')) AS n_redactions
        |FROM s""".stripMargin,
    "ta_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (
         |  SELECT doc_id, toks,
         |    list_transform(generate_series(1, greatest(len(toks) - 1, 1)),
         |      i -> array_to_string(toks[i:i+1], ' ')) AS big,
         |    list_transform(list_sort(list_distinct(toks)),
         |      w -> len(list_filter(toks, x -> x = w))) AS counts
         |  FROM t)
         |SELECT doc_id,
         |  round(1.0 - len(list_distinct(big))::DOUBLE / greatest(len(big), 1), 6)
         |    AS dup_bigram_frac,
         |  round(list_max(counts)::DOUBLE / greatest(len(toks), 1), 6)
         |    AS top_word_frac,
         |  1.0 - coalesce(list_sum(list_transform(counts, c2 -> c2 * c2)), 0)
         |          ::DOUBLE
         |        / greatest(len(toks) * len(toks), 1)::DOUBLE
         |    AS gini_diversity
         |FROM c""".stripMargin,
    "ta_oov_rate" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest($toksSql) AS word FROM documents),
         |v AS (
         |  SELECT word, 1 AS in_vocab FROM (
         |    SELECT word, count(*) AS c FROM w GROUP BY 1
         |    ORDER BY c DESC, word ASC LIMIT 16)),
         |j AS (
         |  SELECT w.doc_id, v.in_vocab FROM w LEFT JOIN v USING (word))
         |SELECT doc_id,
         |  round(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END)::DOUBLE
         |        / count(*), 6) AS oov_rate,
         |  count(*) AS n_words
         |FROM j GROUP BY 1""".stripMargin,
    "ta_rolling_hash" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    list_transform(regexp_extract_all(text, '[\s\S]'),
        |      x -> ord(x)::BIGINT) AS cs
        |  FROM documents)
        |SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT, cs),
        |    (acc, x) -> (acc * 131 + x) % 2147483647) AS poly_hash,
        |  array_to_string(list_transform(
        |    generate_series(0, ((greatest(len(cs), 1) - 1) // 64)::INT),
        |    i -> list_reduce(list_prepend(0::BIGINT, cs[i*64+1 : i*64+64]),
        |           (acc, x) -> (acc * 131 + x) % 2147483647)::VARCHAR), ',')
        |    AS chunk_hashes
        |FROM c""".stripMargin,
    // Series bound derived from length(t) per row (correlated unnest —
    // no static cap to silently under-score longer docs at bigger SFs).
    // list(… ORDER BY i) + list_reduce mirrors the engine's
    // position-sorted fixed-order fold; the seeded vs seedless fold
    // difference is immaterial because 0.0 + x ≡ x for every finite
    // logp (logp < 0, never -0.0).
    "ta_lm_score" ->
      """WITH lt AS (SELECT doc_id, lower(text) AS t FROM documents
        |           WHERE length(text) >= 3),
        |occ AS (
        |  SELECT doc_id, CAST(i AS INT) AS i, substr(t, CAST(i AS INT), 3) AS tri
        |  FROM lt, unnest(generate_series(1, length(t) - 2)) AS g(i)),
        |model AS (SELECT tri, count(*) AS c3 FROM occ GROUP BY tri),
        |c2 AS (SELECT substr(tri, 1, 2) AS pre, sum(c3) AS c2
        |       FROM model GROUP BY 1),
        |a AS (SELECT count(DISTINCT substr(tri, 3, 1)) AS alpha FROM model),
        |lp AS (
        |  SELECT o.doc_id, o.i,
        |    ln((m.c3 + 1.0) / (c.c2 + a.alpha)) AS logp
        |  FROM occ o JOIN model m USING (tri)
        |  JOIN c2 c ON c.pre = substr(o.tri, 1, 2) CROSS JOIN a)
        |SELECT doc_id, count(*) AS n_tri,
        |  round(list_reduce(list(logp ORDER BY i), (x, y) -> x + y)
        |        / count(*), 4) AS avg_ll
        |FROM lp GROUP BY doc_id""".stripMargin,
    "ta_chunk_stride" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |s AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) >= 1)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  CAST(len(tk[(i*48+1):(i*48+64)]) AS INT) AS n_tokens,
        |  array_to_string(tk[(i*48+1):(i*48+64)], ' ') AS chunk_text
        |FROM s, unnest(generate_series(0, (n - 1) // 48)) AS g(i)
        |WHERE i * 48 < n""".stripMargin,
    "ta_bpe_merge_step" ->
      """WITH v AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '),
        |      x -> x <> '')) AS w
        |    FROM documents) t
        |  GROUP BY w),
        |p AS (
        |  SELECT substr(w, CAST(i AS INT), 2) AS pair, freq
        |  FROM v, unnest(generate_series(1, length(w) - 1)) AS g(i)
        |  WHERE length(w) >= 2)
        |SELECT pair, sum(freq)::BIGINT AS n
        |FROM p GROUP BY pair
        |ORDER BY n DESC, pair ASC LIMIT 10""".stripMargin,
    "ta_readability" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk,
        |    greatest(len(list_filter(
        |      string_split_regex(text, '[.!?]'), p -> trim(p) <> '')), 1)
        |      AS n_sentences
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, len(tk) AS n_words, n_sentences,
        |    list_reduce(list_prepend(0::BIGINT, list_transform(tk, w ->
        |      greatest(len(list_filter(
        |        string_split_regex(lower(w), '[^aeiouy]+'),
        |        g -> g <> '')), 1)::BIGINT)),
        |      (a, b) -> a + b) AS n_syllables
        |  FROM t WHERE len(tk) >= 1)
        |SELECT doc_id, CAST(n_words AS INT) AS n_words,
        |  CAST(n_sentences AS INT) AS n_sentences, n_syllables,
        |  0.39::DOUBLE * n_words / n_sentences
        |    + 11.8::DOUBLE * n_syllables / n_words - 15.59::DOUBLE
        |    AS fk_grade
        |FROM c""".stripMargin,
    // list_sort(list_distinct(...)) fixes the fold order (binary sort,
    // matching Spark's UTF8 array_sort); c·ln(c) addends are exact-count
    // derived, never -0.0, so the seedless list_reduce ≡ the seeded fold.
    "ta_char_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, regexp_extract_all(text, '[\s\S]') AS cs
        |  FROM documents WHERE length(text) >= 1),
        |d AS (SELECT doc_id, cs, len(cs) AS n,
        |        list_transform(list_sort(list_distinct(cs)),
        |          ch -> len(list_filter(cs, x -> x = ch))::DOUBLE) AS cnt
        |      FROM c)
        |SELECT doc_id, CAST(n AS INT) AS n_chars_counted,
        |  round(ln(n) - list_reduce(list_transform(cnt, x -> x * ln(x)),
        |    (a, b) -> a + b) / n, 4) AS entropy
        |FROM d""".stripMargin,
    "f26_nfc_normalize" ->
      s"""SELECT doc_id,
         |  nfc_normalize(substr(text, 1, 20) || '$DecomposedSuffix') AS norm,
         |  length(substr(text, 1, 20) || '$DecomposedSuffix') AS len_before,
         |  length(nfc_normalize(substr(text, 1, 20) || '$DecomposedSuffix'))
         |    AS len_after
         |FROM documents""".stripMargin,
    // Series bound derived from len(l) per row (correlated unnest — no
    // static cap to silently truncate longer docs at bigger SFs).
    "ta_dedup_tokens" ->
      """WITH s AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |e AS (
        |  SELECT doc_id, CAST(i AS INT) AS i, l[i] AS x
        |  FROM s, unnest(generate_series(1, len(l))) AS t(i)),
        |f AS (
        |  SELECT doc_id, i, x,
        |    min(i) OVER (PARTITION BY doc_id, x) AS mi FROM e)
        |SELECT doc_id,
        |  string_agg(x, ' ' ORDER BY i) FILTER (WHERE i = mi) AS dedup_text,
        |  CAST(count(*) - count(*) FILTER (WHERE i = mi) AS INT) AS n_removed
        |FROM f GROUP BY doc_id""".stripMargin,
    "ta_url_domains" ->
      """WITH t AS (
        |  SELECT concat_ws(' ', text,
        |    'https://' || source || '.example.org/d/' || doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |         THEN 'http://mirror-' || lang || '.net/x' END) AS t2
        |  FROM documents),
        |d AS (
        |  SELECT unnest(regexp_extract_all(t2,
        |    'https?://([A-Za-z0-9.-]+)', 1)) AS domain FROM t)
        |SELECT domain, count(*) AS n FROM d GROUP BY domain""".stripMargin,
    "ta_url_canonical" ->
      s"""WITH $urlCanonSql
         |SELECT url, count(*) AS n_docs
         |FROM canon GROUP BY 1""".stripMargin
  )
}
