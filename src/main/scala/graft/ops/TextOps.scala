package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization,
  * shingling, language ID, quality scoring, fingerprinting.
  *
  * Everything here is a pure `Column` expression over built-in functions —
  * codegen'd, shuffle-free, and deterministic across engines (hashes are
  * md5-hex so an external SQL engine reproduces them bit-for-bit; no
  * engine-private hash seeds) — except the DSIR pair at the end, which
  * is DataFrame-level because the LM is corpus-dependent state.
  */
object TextOps {

  /** Whitespace tokenizer (the BPE-ish regex split). */
  /** Whitespace tokens. CONVENTION: split keeps the empty edge
    * tokens of leading/trailing whitespace (" a b " → ["","a","b",""])
    * — deliberately identical to DuckDB's string_split_regex, which
    * every oracle twin uses, so the engines always agree. Counting
    * consumers that need padded text to score like trimmed text
    * should trim upstream (dsirLm-style length>0 filters exist where
    * a phantom token would change a JOIN key rather than a count). */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** Lowercased tokens for case-insensitive matching. */
  def tokensLower(text: Column): Column = split(lower(text), "\\s+")

  /** Word n-gram shingles: overlapping windows of `n` tokens joined by
    * a single space; empty array below `n` tokens. Derived from
    * `Spans.tokenWindows` (the one declarative definition of the
    * window convention) by dropping the position tag — keeping two
    * parallel bodies in sync was a drift hazard. */
  def wordShingles(toks: Column, n: Int): Column =
    transform(Spans.tokenWindows(toks, n), w => w.getField("gram"))

  /** Distinct shingle set (for Jaccard). */
  def shingleSet(text: Column, n: Int): Column =
    array_distinct(wordShingles(tokens(text), n))

  /** n-gram Jaccard similarity of two distinct-shingle sets, computed
    * portably as |A∩B| / (|A|+|B|−|A∩B|). */
  def jaccard(aSet: Column, bSet: Column): Column = {
    val inter = size(filter(aSet, x => array_contains(bSet, x)))
      .cast("double")
    val union = size(aSet) + size(bSet) - inter
    // two EMPTY sets: 0/0 — under Spark 4's default ANSI mode a plain
    // division THROWS DIVIDE_BY_ZERO; null here matches the kernel
    // twin (JaccardExpr) and the "no evidence" convention
    when(union > 0, inter / union)
  }

  /** Language-ID heuristic: CJK codepoints → zh; otherwise argmax of
    * per-language stopword hit counts (ties resolve alphabetically, all-
    * zero resolves to 'en'). A real pipeline swaps in a trained n-gram
    * model; the *shape* (pure expression, no shuffle) is the point. */
  val stopwords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une"))

  def stopwordCount(toksLower: Column, lang: String): Column =
    size(filter(toksLower,
      t => array_contains(lit(stopwords(lang).toArray), t)))

  /** Declarative reference implementation; the hot path is
    * functions.SketchExpressions.langId (single-pass kernel, equal
    * output — each count here re-tokenizes, no CSE inside lambdas). */
  def langId(text: Column): Column = {
    val tl = tokensLower(text)
    val s = stopwords.keys.toSeq.sorted.map(l => l -> stopwordCount(tl, l))
    val allZero = s.map(_._2 === 0).reduce(_ && _)
    val argmax = s.foldRight(lit("en")) { case ((l, sc), els) =>
      when(s.filter(_._1 != l).map(o => sc >= o._2).reduce(_ && _), lit(l))
        .otherwise(els)
    }
    when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .when(allZero, lit("en"))
      .otherwise(argmax)
  }

  /** Quality score from a projected `SketchExpressions.textStats` struct
    * column — same formula as `qualityScore`, one text scan instead of
    * five. */
  def qualityScoreFrom(stats: Column): Column = {
    val nChars = stats.getField("n_chars").cast("double")
    val nToks = stats.getField("n_tokens").cast("double")
    val alpha = stats.getField("n_alpha").cast("double") /
      greatest(nChars, lit(1.0))
    val stop = stats.getField("n_stop").cast("double") /
      greatest(nToks, lit(1.0))
    val punct = stats.getField("n_punct").cast("double") /
      greatest(nChars, lit(1.0))
    val lenScore = least(nToks / lit(100.0), lit(1.0))
    round(lenScore * 0.4 + alpha * 0.3 + stop * 0.2 +
      least(punct * lit(10.0), lit(1.0)) * 0.1, 6)
  }

  /** Quality score in [0,1]-ish: rewards mid-length documents, prose-like
    * punctuation density, stopword presence and alphabetic content.
    * Deterministic double arithmetic, identical term order on both engines. */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val toks = tokens(text)
    val nToks = size(toks).cast("double")
    val punct = (nChars - length(regexp_replace(text, "[.,!?;:]", ""))) /
      greatest(nChars, lit(1.0))
    val alpha = length(regexp_replace(text, "[^A-Za-z]", ""))
      .cast("double") / greatest(nChars, lit(1.0))
    val stop = stopwordCount(tokensLower(text), "en").cast("double") /
      greatest(nToks, lit(1.0))
    val lenScore = least(nToks / lit(100.0), lit(1.0))
    round(lenScore * 0.4 + alpha * 0.3 + stop * 0.2 +
      least(punct * lit(10.0), lit(1.0)) * 0.1, 6)
  }

  /** Sorted md5 hashes of a document's word n-grams (the fingerprint
    * intermediate). Project this as its own column before using it more
    * than once — multi-referenced expressions are inlined per reference. */
  def sortedShingleHashes(text: Column, n: Int): Column =
    array_sort(transform(wordShingles(tokens(text), n), s => md5(s)))

  /** Document fingerprint from a projected `sortedShingleHashes` column:
    * bottom-k sketch over md5'd word n-grams — robust to small edits (an
    * edit perturbs few shingles, usually not the k smallest hashes).
    * Docs with no n-gram fall back to md5 of the whole text. */
  def fingerprintFrom(hashes: Column, text: Column, k: Int = 4): Column =
    when(size(hashes) > 0, concat_ws("", slice(hashes, 1, k)))
      .otherwise(md5(text))

  /** Single-shot convenience (recomputes the hash array twice; prefer
    * the projected two-step form in hot paths). */
  def fingerprint(text: Column, n: Int = 5, k: Int = 4): Column =
    fingerprintFrom(sortedShingleHashes(text, n), text, k)

  /** Canonical text normalization for training corpora: lowercase, strip
    * non-alphanumerics, collapse whitespace runs, trim. Idempotent, pure
    * map-side expression — the standard pre-dedup canonical form (so
    * "Hello,  World!" and "hello world" hash identically downstream). */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", ""), "\\s+", " "))

  /** PII scrubbing: replace email addresses and phone-like digit runs
    * with typed placeholder tokens. Regexes are deliberately RE2-safe
    * (no backrefs/lookaround) so any engine reproduces them; emails are
    * scrubbed FIRST so their digit fragments can't half-match as phones.
    * Map-side, codegen'd — at 100 TB this is a pure scan transform. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+?[0-9][0-9()\\s-]{6,}[0-9]"
  def piiScrub(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")

  /** Fixed-width pseudo-lines: consecutive `w`-token chunks joined by a
    * single space (the final chunk may be shorter). The corpus text has
    * no newlines, so line-level repetition signals (Gopher §A.1.1
    * dup-line fractions) chunk on token windows instead — the operator
    * shape (array of line strings per row, map-side) is identical to a
    * `split(text, '\n')` corpus. */
  def tokenChunks(toks: Column, w: Int): Column =
    // empty-array guard: sequence(1, 0) runs DOWNWARD ([1, 0]) and
    // would emit two phantom '' chunks — a zero-token doc would score
    // 50% duplicate-line fraction; the kernel twin returns []
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), ceil(size(toks).cast("double") / w).cast("int")),
        i => concat_ws(" ", slice(toks, (i - lit(1)) * w + 1, lit(w)))))

  /** Fraction of array elements duplicating an earlier element
    * (1 − distinct/total); null for empty arrays. */
  def dupElementFraction(arr: Column): Column =
    when(size(arr) > 0,
      lit(1.0) - size(array_distinct(arr)).cast("double") /
        size(arr).cast("double"))

  /** Fraction of CHARACTERS inside repeated lines: 1 − (chars across
    * distinct lines) / (chars across all lines) — Gopher's
    * dup-line-char fraction companion signal. Null for empty input. */
  def dupCharFraction(lines: Column): Column = {
    val tot = aggregate(lines, lit(0L), (a, x) => a + length(x))
    val dis = aggregate(array_distinct(lines), lit(0L),
      (a, x) => a + length(x))
    when(tot > 0, lit(1.0) - dis.cast("double") / tot.cast("double"))
  }

  /** Domains of http(s) URLs in a text (capture group 1 per match) —
    * the corpus-provenance signal behind per-domain quality/filter
    * stats. RE2-safe, map-side. Scheme matches case-insensitively
    * ("HTTPS://…" is a legal URL); extraction preserves the domain's
    * case — hostnames are case-insensitive (RFC 4343), so GATES that
    * compare domains must lower() both sides (t66 does). */
  val urlDomainRe = "(?i)https?://([A-Za-z0-9.-]+)"
  def urlDomains(text: Column): Column =
    regexp_extract_all(text, lit(urlDomainRe), lit(1))

  /** Crawl-frontier URL canonicalization (the normalization step every
    * dedup-by-URL pipeline runs before hashing the key): lowercase
    * scheme and host, strip a leading `www.`, drop the scheme's OWN
    * default port (http:80, https:443 — a non-default port like
    * http://h:443 names a genuinely different resource and must keep
    * its key), drop the fragment, strip tracking query params
    * (`utm_*`), drop an empty `?`, remove a trailing slash on a
    * non-root path, and normalize the empty path to `/` (RFC 3986
    * §6.2.3: `https://e.com` ≡ `https://e.com/` — the most common
    * real-world duplicate-URL pair). Everything is per-row string
    * work — the canonical key is derived map-side, so at corpus scale
    * URL-dedup costs one aggregation shuffle on the canonical key and
    * nothing else. Piecewise regexps (RE2-safe, no lookaround, no
    * backrefs in patterns): parse scheme/hostport/rest with three
    * anchored extracts, then filter query params with a higher-order
    * array op, not a regex.
    *
    * A string with NO scheme (a relative link, a protocol-relative
    * `//cdn…`, garbage) passes through UNCHANGED: every extract
    * returns "" for it, so normalizing would collapse ALL such
    * strings onto the single degenerate key `":///"` — in a
    * frontier-dedup sink that key's first arrival would permanently
    * swallow every later unparseable URL. Pass-through keeps each
    * distinct raw string its own key; resolution against a base URL
    * is the caller's (the extractor's) job, not the canonicalizer's. */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostRaw = regexp_replace(
      lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)),
      "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(hostRaw, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostRaw, ":443$", ""))
      .otherwise(hostRaw)
    val rest = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$", 1)
    val path0 = regexp_replace(regexp_extract(rest, "^([^?]*)", 1), "(.)/$", "$1")
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val query = regexp_extract(rest, "^[^?]*\\?(.*)$", 1)
    val keptQ = array_join(
      filter(split(query, "&"), p => !p.startsWith("utm_")), "&")
    when(scheme === "", url).otherwise(
      concat(scheme, lit("://"), host, path,
        when(keptQ === "", lit("")).otherwise(concat(lit("?"), keptQ))))
  }

  /** BPE-ish token count: contractions, letter runs, digit runs, and
    * other non-space runs as separate tokens (the GPT-2 pre-tokenizer
    * shape, RE2-safe — no lookaround). Whitespace-count twin: d2. */
  val bpeTokenRe = "'(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s']+"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenRe), lit(0))).cast("long")

  /** Gopher-style repetition signal: the fraction of word n-grams that
    * are duplicates of an earlier n-gram in the same document
    * (1 − distinct/total). Null for documents with no n-gram. Map-side:
    * the n-gram array never leaves the row. */
  def dupNgramFraction(text: Column, n: Int): Column =
    dupElementFraction(wordShingles(tokens(text), n))

  /** HTTP message body: everything after the first blank line — the
    * step from a WARC `response` payload to the HTML document.
    * CRLF CRLF per spec, with a bare LF LF fallback (non-conformant
    * servers are routine in real crawls; without the fallback their
    * Server:/Set-Cookie: headers leak into the corpus as "body").
    * Headerless payloads pass through whole. */
  def httpBody(payload: Column): Column = {
    val s = payload.cast("string")
    val crlf = instr(s, "\r\n\r\n") // FIRST blank line (1-based, 0=absent)
    val lf = instr(s, "\n\n")
    // whichever separator occurs FIRST ends the headers (a CRLF CRLF
    // later in the body must not outrank an earlier bare-LF blank)
    when(crlf > 0 && (lf === 0 || crlf < lf),
        substring(s, crlf + lit(4), length(s)))
      .when(lf > 0, substring(s, lf + lit(2), length(s)))
      .otherwise(s)
  }

  /** HTML → text, the crawl-extraction baseline (the declarative
    * stand-in for a boilerplate extractor): drop script/style/comment
    * blocks, strip tags, decode the common entities, collapse
    * whitespace. Chain of codegen'd regexp_replace — map-side, no
    * UDF. Production swaps a real extractor at the SAME column seam. */
  def htmlToText(html: Column): Column = {
    // one pass per tag name — <script…>…</script> then <style…> —
    // instead of a <(script|style)>…</\1> backreference, keeping the
    // module's RE2-safe convention (no backrefs/lookaround)
    // the opening tag needs a NAME BOUNDARY — '<style[^>]*>' also
    // matches tags merely prefixed by it (<styleguide ...>) and then
    // deletes real prose up to the next genuine close; '(>|[\s/]
    // [^>]*>)' is the RE2-safe boundary (no \b, no lookahead). The
    // closing '</tag>' literal needs none: '>' must follow the name.
    val noScript = Seq("script", "style").foldLeft(html) { (c, tag) =>
      regexp_replace(c, s"(?is)<$tag(>|[\\s/][^>]*>).*?</$tag>", " ")
    }
    val noComment = regexp_replace(noScript, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    // &amp; decodes LAST: doing it first would double-decode literal
    // text like "&amp;lt;" into "<" instead of the correct "&lt;"
    val entities = Seq("&nbsp;" -> " ", "&lt;" -> "<",
      "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) { case (c, (e, r)) =>
      regexp_replace(c, java.util.regex.Pattern.quote(e), r)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** The Gopher-rule ingredients (Rae et al. 2021 §A1.1 shape), shared
    * by the standalone rules query (t46), the curation funnel (t63),
    * and the repetition-budget proxy (t64) — ONE definition, so a
    * threshold tweak cannot silently desynchronize the consumers. */
  val gopherStops: Seq[String] = Seq("the", "be", "to", "of", "and",
    "that", "have", "with", "it", "in")
  def gopherNWords(toks: Column): Column = size(toks).cast("long")
  def gopherMeanLen(toks: Column): Column =
    aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") /
      gopherNWords(toks)
  def gopherAlphaFrac(toks: Column): Column =
    size(filter(toks, t => t.rlike("[a-z]"))).cast("double") /
      gopherNWords(toks)
  def gopherNStop(toks: Column): Column =
    size(filter(toks, t => t.isin(gopherStops: _*))).cast("long")
  /** The combined pass/fail predicate over the four metrics. */
  def gopherPass(toks: Column): Column =
    gopherNWords(toks).between(50, 100000) &&
      gopherMeanLen(toks).between(3.0, 10.0) &&
      gopherAlphaFrac(toks) >= 0.8 && gopherNStop(toks) >= 2

  /** Standing unigram LMs for DSIR importance weighting (Xie et al.
    * 2023): token counts for the whole corpus (`__ns`) and the target
    * domain (`__nt`, null where the target never saw the term), plus a
    * 1-row scalar frame (`__ts` corpus tokens, `__v` vocab size,
    * `__tt` target tokens). Built ONCE from the standing corpus —
    * production materializes both frames (vocab is the only
    * corpus-dependent state, O(vocab) not O(corpus)) and scores deltas
    * against them (`dsirScore` / `Streaming.dsirScoreStream`). */
  def dsirLm(corpus: DataFrame, textCol: String, sourceCol: String,
             targetSource: String): (DataFrame, DataFrame) = {
    val f = corpus.select(col(sourceCol).as("__src"),
      explode(tokensLower(col(textCol))).as("term"))
      .where(length(col("term")) > 0)
    val vS = f.groupBy("term").agg(count(lit(1)).as("__ns"))
    val vT = f.where(col("__src") === targetSource)
      .groupBy("term").agg(count(lit(1)).as("__nt"))
    // __tt from the vocab-sized vT frame, NOT a third tokenize-explode
    // pass over the corpus (sum of per-term counts ≡ the token count);
    // an absent target domain sums to null → 0
    val scalars = vS.agg(sum("__ns").cast("double").as("__ts"),
      count(lit(1)).cast("double").as("__v"))
      .crossJoin(vT.agg(coalesce(sum("__nt"), lit(0L))
        .cast("double").as("__tt")))
    (vS.join(vT, Seq("term"), "left"), scalars)
  }

  /** Per-document DSIR log-weights against a standing LM: mean token
    * log-likelihood ratio ln(p_target/p_corpus), Laplace-smoothed.
    * Tokens the LM never saw (possible when scoring a DELTA against a
    * standing vocab) contribute ZERO — neutral evidence. The smoothed
    * ratio would give every OOV token the same POSITIVE weight
    * ln((ts+v)/(tt+v)) (the corpus total always exceeds the target's),
    * so a junk doc made of never-seen tokens would score strongly
    * "target-like" and get upsampled — the opposite of an importance
    * filter's job. They still count in n_tok. One term-keyed join over
    * the token stream (broadcast when the vocab allows), scalars as a
    * 1-row broadcast, then the per-doc agg. */
  def dsirScore(docs: DataFrame, idCol: String, textCol: String,
                vocab: DataFrame, scalars: DataFrame): DataFrame =
    docs.select(col(idCol), explode(tokensLower(col(textCol))).as("term"))
      .where(length(col("term")) > 0)
      .join(vocab, Seq("term"), "left")
      .crossJoin(broadcast(scalars))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tok"),
        round(avg(when(col("__ns").isNull, lit(0.0)).otherwise(
          log((coalesce(col("__nt"), lit(0L)).cast("double") + 1.0) /
              (col("__tt") + col("__v"))) -
          log((col("__ns").cast("double") + 1.0) /
              (col("__ts") + col("__v"))))), 6).as("dsir_logweight"))

  /** Per-language reference bigram LM — the CCNet artifact (Wenzek et
    * al. 2020: a LM trained on a reference domain, scoring the crawl).
    * Counts come from the REFERENCE frame only (caller pre-filters to
    * the reference source); all three tables are vocab-sized (Heaps'
    * law) and broadcastable. Returns (bigram counts (lang, bg, cb),
    * unigram counts (lang, w1, cu), vocab sizes (lang, v)) — the
    * standing artifact: materialize once, consume from batch scoring
    * (t75) and the streaming twin (`Streaming.lmScoreStream`) alike. */
  def bigramLm(ref: DataFrame, langCol: String,
               textCol: String): (DataFrame, DataFrame, DataFrame) = {
    def toksL = tokensLower(col(textCol))
    def bigrams = graft.functions.SketchExpressions.wordShingles(toksL, 2)
    val bg0 = ref.select(col(langCol).as("lang"), explode(bigrams).as("bg"))
      .groupBy("lang", "bg").agg(count(lit(1)).as("cb"))
    val ug0 = ref.select(col(langCol).as("lang"), explode(toksL).as("w1"))
      .groupBy("lang", "w1").agg(count(lit(1)).as("cu"))
    val vsz = ug0.groupBy("lang").agg(count(lit(1)).as("v"))
    (bg0, ug0, vsz)
  }

  /** Per-document score under the reference bigram LM: mean add-one-
    * smoothed bigram log-likelihood ln((cb+1)/(cu+V)), per the doc's
    * language. OOV bigrams/unigrams score finitely through the
    * smoothing (count 0); documents whose language has no reference
    * LM drop out (inner join on the LM's lang set — documented), as
    * do documents with fewer than two tokens (no bigrams). Round-6
    * output (cross-engine-stable, the t53 precedent). LM sides join
    * as broadcasts; one corpus pass + one per-doc agg. */
  def bigramLmScore(docs: DataFrame, idCol: String, langCol: String,
                    textCol: String, bg0: DataFrame, ug0: DataFrame,
                    vsz: DataFrame): DataFrame = {
    def bigrams = graft.functions.SketchExpressions
      .wordShingles(tokensLower(col(textCol)), 2)
    docs
      .select(col(idCol), col(langCol).as("lang"), explode(bigrams).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(broadcast(bg0), Seq("lang", "bg"), "left")
      .join(broadcast(ug0), Seq("lang", "w1"), "left")
      .join(broadcast(vsz), Seq("lang"))
      .groupBy(col(idCol), col("lang"))
      .agg((round(avg(log(
        (coalesce(col("cb"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("cu"), lit(0L)) + col("v")).cast("double"))), 6)
        + 0.0).as("lm_lp"))
  }

  /** One BPE merge applied to a symbol array — left-to-right,
    * non-overlapping (the reference BPE policy) — as a declarative
    * fold: append each symbol unless the accumulator's tail is `a`
    * and the symbol is `b`, in which case the pair collapses to a+b.
    * Greedy-left is exact: a just-merged element can never re-merge
    * under the same pair because its value a+b ≠ a (b is never
    * empty). Runs on the distinct-WORD table (vocab-sized), never the
    * corpus, so the interpreted lambda stays off any hot path. */
  def bpeMergeOnce(sym: Column, a: String, b: String): Column =
    aggregate(sym, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Distributed BPE tokenizer TRAINING (Sennrich et al. 2016 — the
    * merge-table learning step; t37 only counts pairs). Input is a
    * (word, count) table; the corpus is scanned exactly ONCE to build
    * it, and every iteration after runs on that vocab-sized table
    * (Heaps' law: ~10⁶-10⁷ distinct words at 100 TB, not corpus-
    * sized). Per merge: weighted adjacent-pair counts (map-side
    * partial agg → one tiny shuffle), deterministic top-1
    * (count desc, pair asc — no engine-order ties), then the merge
    * folds into every word's symbol array. Driver state is O(merges)
    * scalar pairs (the q39 k-means precedent); lazy localCheckpoints
    * truncate the per-iteration lineage exactly like the CC fixpoint.
    * Symbols start as the CODE POINTS of the word (probed r12:
    * Spark's split(w, "") keeps a supplementary-plane char as one
    * element — the r11 surrogate-halves claim here was wrong about
    * the engine; `bpeTrainMergesLocal` matches via codePoints()). No
    * end-of-word marker: words are already pre-tokenized units here,
    * the modern byte-level-BPE convention. Count ties break by the
    * engine's UTF8 binary pair order, which equals Java String order
    * except when a supplementary-plane symbol compares against one in
    * U+E000–U+FFFF (the documented UTF8String-vs-String divergence) —
    * impossible under ASCII-safe pre-tokenization. */
  /** Apply a learned merge table to a symbol array — the BPE ENCODE
    * step. The merge list is driver-side state (it IS the tokenizer)
    * and ships as DATA inside one Catalyst kernel expression
    * ([[graft.functions.BpeExpressions.BpeEncodeExpr]]): plan size
    * and per-row cost stay FLAT in the merge count, so a production
    * 32k-merge vocabulary plans exactly like the toy 8-merge one.
    * (The previous form folded `bpeMergeOnce` once per merge —
    * statically unrolling the table into the plan, linear plan growth;
    * BpeKernelSpec keeps that fold as the kernel's reference on trained
    * tables.) */
  def bpeEncode(sym: Column,
                merges: Seq[(String, String, Long)]): Column =
    graft.functions.BpeExpressions.bpeEncode(
      sym, merges.map(m => (m._1, m._2)))

  def bpeTrainMerges(words: DataFrame, wordCol: String, cntCol: String,
                     numMerges: Int): Seq[(String, String, Long)] = {
    var cur = words
      .select(split(col(wordCol), "").as("sym"), col(cntCol).as("cnt"))
      .localCheckpoint(false)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    var done = false
    while (out.length < numMerges && !done) {
      val top = cur.where(size(col("sym")) >= 2)
        .select(col("cnt"), explode(zip_with(
          slice(col("sym"), lit(1), size(col("sym")) - 1),
          slice(col("sym"), lit(2), size(col("sym")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) done = true // every word fully merged
      else {
        val a = top(0).getString(0)
        val b = top(0).getString(1)
        out += ((a, b, top(0).getLong(2)))
        // NOTE: no explicit unpersist — Dataset.unpersist only
        // touches CacheManager entries, not localCheckpoint RDD
        // blocks; the dropped reference is reclaimed by the
        // ContextCleaner once this val goes out of scope (the
        // connectedComponents convention)
        cur = cur
          .withColumn("sym", bpeMergeOnce(col("sym"), a, b))
          .localCheckpoint(false)
      }
    }
    out.toSeq
  }

  /** Driver-local BPE training over a COLLECTED (word, count) vocab —
    * the production trainer for real merge counts. `bpeTrainMerges`
    * runs one Spark job per merge (fine for its distributed-counting
    * demonstration; 32k merges would be 32k jobs), while the actual
    * working set after the one corpus-scan word count is vocab-sized
    * (Heaps: ~10⁶ distinct words at 100 TB — MBs on the driver, the
    * q39/Misra–Gries bounded-driver-state precedent; real tokenizer
    * recipes also train on a capped sample). Same algorithm, same
    * determinism contract: per round, weighted adjacent-pair counts,
    * winner by (count desc, a asc, b asc) in Java String order (≡ the
    * engine's UTF8 binary order under ASCII-safe pre-tokenization —
    * the bpeTrainMerges scaladoc's caveat), merge folded into every
    * word. Equality with bpeTrainMerges is spec-locked on the shared
    * vocab (BpeKernelSpec). */
  def bpeTrainMergesLocal(words: Seq[(String, Long)],
                          numMerges: Int): Seq[(String, String, Long)] = {
    val syms: Array[scala.collection.mutable.ArrayBuffer[String]] =
      words.map { case (w, _) =>
        // CODE POINTS, matching split(w, "") on the engine side
        // (probed: Spark's empty-pattern split keeps a supplementary
        // char as ONE element — toCharArray would break it into
        // surrogate halves and diverge from the distributed trainer)
        scala.collection.mutable.ArrayBuffer.from(
          w.codePoints().toArray.map(Character.toString))
      }.toArray
    val cnts = words.map(_._2).toArray
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    var done = false
    while (out.length < numMerges && !done) {
      val pc = new java.util.HashMap[(String, String), Long]()
      var wi = 0
      while (wi < syms.length) {
        val s = syms(wi)
        var j = 0
        while (j < s.length - 1) {
          val k = (s(j), s(j + 1))
          pc.merge(k, cnts(wi), (x, y) => x + y)
          j += 1
        }
        wi += 1
      }
      if (pc.isEmpty) done = true
      else {
        var best: ((String, String), Long) = null
        pc.forEach { (k, c) =>
          if (best == null || c > best._2 ||
              (c == best._2 && (k._1 < best._1._1 ||
                (k._1 == best._1._1 && k._2 < best._1._2))))
            best = (k, c)
        }
        val ((a, b), c) = best
        out += ((a, b, c))
        val ab = a + b
        wi = 0
        while (wi < syms.length) {
          val s = syms(wi)
          if (s.length >= 2) {
            val ns = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < s.length) {
              if (j < s.length - 1 && s(j) == a && s(j + 1) == b) {
                ns += ab; j += 2
              } else { ns += s(j); j += 1 }
            }
            syms(wi) = ns
          }
          wi += 1
        }
      }
    }
    out.toSeq
  }
}
