package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
import org.apache.spark.sql.functions._
import graft.expr._
import graft.expr.{ScalarKernel => K}

/**
 * graft functions — the engine's public Column API (mirrors
 * org.apache.spark.sql.functions style). Custom Catalyst expressions are
 * exposed here; everything else composes Spark builtins so Catalyst
 * optimizes/pushes/codegens it all.
 */
object gf {

  // ---- custom expressions (SURVEY.md §2.10) ----
  /** One call of a kernel-table row (see [[graft.expr.ScalarKernel]]). */
  private def call(k: ScalarKernel, args: Column*): Column =
    column(KernelCall(k, args.map(expression)))

  private def mergeAgg[S <: AnyRef](blobs: Column, kind: SketchKind[S]): Column =
    column(SketchMergeAgg(expression(blobs), kind).toAggregateExpression())

  def canonicalize_url(url: Column): Column = call(K.canonicalize_url, url)
  def resolve_url(base: Column, href: Column): Column = call(K.resolve_url, base, href)
  /** Deterministic html→text (SURVEY.md C24) of STRING or BINARY html. */
  def extract_text(html: Column): Column = call(K.extract_text, html)
  def char_overlap_sim(a: Column, b: Column): Column = call(K.char_overlap_sim, a, b)

  /** zlib compression ratio of the text (redundancy/gibberish signal —
    * see [[graft.core.TextExtractor.deflateRatio]]). */
  def deflate_ratio(text: Column): Column = call(K.deflate_ratio, text)

  /** Registrable domain (eTLD+1) per the PSL algorithm — NULL when the
    * host is itself a public suffix (see [[graft.core.PublicSuffix]]). */
  def registrable_domain(host: Column): Column = call(K.registrable_domain, host)

  /** One-pass facility-field probe over raw HTML (struct of all
    * page-level extraction layers — see [[graft.expr.HtmlFacilityProbe]]). */
  def html_probe(html: Column): Column = call(K.html_probe, html)

  /** Boilerplate removal: main content only, by block text/link density
    * (see [[graft.core.MainContent]]). */
  def main_content(html: Column, minWords: Int = 10, maxLinkDensity: Double = 0.33): Column =
    call(K.main_content.withParams(minWords, maxLinkDensity), html)

  /** HTML → Markdown (the reference's crawl4ai `result.markdown` page
    * representation — see [[graft.core.Markdown]]). `fit = true`
    * prunes nav/header/footer chrome first (fit_markdown). */
  def html_to_markdown(html: Column, fit: Boolean = false): Column =
    call(K.html_to_markdown.withParams(fit), html)

  /** Unicode normalization (default NFC — the cross-engine-verifiable
    * form; see [[graft.core.TextNorm]]). Normalize BEFORE any
    * fingerprint/dedup hash. */
  def unicode_normalize(text: Column, form: String = "NFC"): Column = {
    require(Set("NFC", "NFD", "NFKC", "NFKD")(form), s"unknown normalization form '$form'")
    call(K.unicode_normalize.withParams(form), text)
  }

  /** Charset label of raw fetched bytes (BOM → meta → UTF-8 check →
    * windows-1252; see [[graft.core.CharsetSniff]]). */
  def sniff_charset(bytes: Column): Column = call(K.sniff_charset, bytes)

  /** Sniff + BOM-strip + decode raw page bytes to text (see
    * [[graft.core.CharsetSniff]]). */
  def sniff_decode(bytes: Column): Column = call(K.sniff_decode, bytes)

  /** MIME label of raw payload bytes (magic numbers → markup probe →
    * NUL scan; see [[graft.core.MimeSniff]]). */
  def sniff_mime(bytes: Column): Column = call(K.sniff_mime, bytes)

  /** Total Aho-Corasick dictionary hits over the token stream (one pass
    * for any dictionary size; see [[graft.expr.DictHits]]). Entries are
    * lowercase words/phrases. */
  def dict_hits(text: Column, dict: Seq[String]): Column =
    column(DictHits(expression(text), dict))

  /** RFC 9309 robots verdict for one path under one robots.txt:
    * struct(allowed, rule, crawl_delay) — group selection, `*`/`$`
    * patterns, longest-match / allow-wins-tie precedence (see
    * [[graft.core.RobotsRules]] / [[graft.expr.RobotsDecision]]). */
  def robots_decision(robotsTxt: Column, agent: Column, path: Column): Column =
    column(RobotsDecision(expression(robotsTxt), expression(agent),
      expression(path)))

  /** HyperLogLog sketch of pre-hashed LONG values (standard error ≈
    * 1.04/√2^p; see [[graft.expr.HllAgg]]). Returns a binary blob. */
  def hll_agg(hashedValues: Column, p: Int = 12): Column =
    column(HllAgg(expression(hashedValues), p).toAggregateExpression())

  /** Register-max merge of same-precision HLL blobs — incremental
    * carried distinct-count state, ≡ full rebuild byte-identically. */
  def hll_merge_agg(sketches: Column): Column =
    mergeAgg(sketches, SketchKind.hll)

  /** Cardinality estimate of an HLL blob. */
  def hll_estimate(sketch: Column): Column = call(K.hll_estimate, sketch)

  /** t-digest quantile sketch of DOUBLE values (rank error O(1/δ);
    * see [[graft.expr.TDigestAgg]]). Returns a binary blob. */
  def tdigest_agg(values: Column, delta: Double = 100.0): Column =
    column(TDigestAgg(expression(values), delta).toAggregateExpression())

  /** Fold same-δ digest blobs — two-level / incremental quantile state
    * (rank-error bound preserved; bytes are merge-order-dependent). */
  def tdigest_merge_agg(digests: Column): Column =
    mergeAgg(digests, SketchKind.tdigest)

  /** Interpolated quantile estimate from a digest blob. */
  def tdigest_quantile(sketch: Column, q: Column): Column =
    call(K.tdigest_quantile, sketch, q)

  /** Total observation count of a digest blob. */
  def tdigest_weight(sketch: Column): Column = call(K.tdigest_weight, sketch)

  /** Count-min point-frequency sketch of pre-hashed LONG keys with LONG
    * weights (estimate ≥ true, ≤ true + (e/w)·N w.p. ≥ 1 − e^−d; see
    * [[graft.expr.CountMinAgg]]). Returns a binary blob. */
  def count_min_agg(hashedKeys: Column, weight: Column,
                    depth: Int = 4, width: Int = 256): Column =
    column(CountMinAgg(expression(hashedKeys), expression(weight),
      depth, width).toAggregateExpression())

  /** Vector-add fold of same-shape count-min blobs — incremental /
    * two-level frequency state, ≡ one-shot build byte-identically. */
  def count_min_merge_agg(sketches: Column): Column =
    mergeAgg(sketches, SketchKind.count_min)

  /** Point-frequency estimate of a pre-hashed key from a sketch blob. */
  def count_min_query(sketch: Column, hashedKey: Column): Column =
    call(K.count_min_query, sketch, hashedKey)

  /** Total added weight N of a count-min blob. */
  def count_min_total(sketch: Column): Column = call(K.count_min_total, sketch)

  /** KMV / theta set sketch of pre-hashed LONG keys — the k smallest
    * distinct hash values; exact below k (see [[graft.expr.KmvAgg]]).
    * Unlike HLL, supports set operations: jaccard / union / intersect
    * estimates between two sketches. Returns a binary blob. */
  def kmv_agg(hashedKeys: Column, k: Int = 1024): Column =
    column(KmvAgg(expression(hashedKeys), k).toAggregateExpression())

  /** k-smallest-of-union fold of same-k KMV blobs — incremental /
    * two-level distinct state, ≡ one-shot build byte-identically. */
  def kmv_merge_agg(sketches: Column): Column =
    mergeAgg(sketches, SketchKind.kmv)

  /** Distinct-count estimate of a KMV blob (exact below k). */
  def kmv_distinct(sketch: Column): Column = call(K.kmv_distinct, sketch)

  /** Stored-value count of a KMV blob (< k ⇔ exact regime). */
  def kmv_size(sketch: Column): Column = call(K.kmv_size, sketch)

  /** Jaccard estimate between two same-k KMV blobs (Beyer et al.). */
  def kmv_jaccard(a: Column, b: Column): Column = call(K.kmv_jaccard, a, b)

  /** Union-distinct estimate between two same-k KMV blobs. */
  def kmv_union_distinct(a: Column, b: Column): Column = call(K.kmv_union_distinct, a, b)

  /** Intersection-distinct estimate between two same-k KMV blobs. */
  def kmv_intersect_distinct(a: Column, b: Column): Column =
    call(K.kmv_intersect_distinct, a, b)

  /** Content-defined (FastCDC) chunks of the text's UTF-8 bytes —
    * array<struct<start,len,hash>> (see [[graft.core.Cdc]]). */
  def cdc_chunks(text: Column, min: Int = 64, avg: Int = 256,
                 max: Int = 1024): Column =
    call(K.cdc_chunks.withParams(min, avg, max), text)

  /** Winnowed k-gram fingerprint set of the text as one O(n) pass (see
    * [[graft.core.WinnowKernel]] and [[graft.dedup.NearDup.winnowFingerprints]]). */
  def winnow_fingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    call(K.winnow_fingerprints.withParams(k, w), text)

  /** Per-doc Gopher repetition metrics struct(topFrac, dupFrac) as one
    * pass (see [[graft.core.RepetitionKernel]]). */
  def repetition_metrics(text: Column, topN: Int = 2, dupN: Int = 5): Column =
    call(K.repetition_metrics.withParams(topN, dupN), text)

  /** Multi-column link Generator: a row per `<a href>` anchor —
    * (href, anchor_text, rel) in one html pass (SURVEY.md C26 + the
    * anchor-text half of F3). Use in select() like explode(). */
  def extract_links(html: Column): Column = column(ExtractLinks(expression(html)))

  /** Form Generator over the real DOM: a row per `<form>` —
    * (action, method, form_text, fields name/type/required) — the
    * search-endpoint discovery input (see [[graft.expr.ExtractForms]];
    * reference navigation.py:184-220). Use in select() like explode(). */
  def extract_forms(html: Column): Column = column(ExtractForms(expression(html)))

  /** Real CSS-selector query: text of every match, document order
    * (SURVEY.md C25 — see [[graft.expr.CssSelectAll]]). Selector must be
    * a literal. */
  def css_select_all(html: Column, selector: String): Column =
    column(CssSelectAll(expression(html), expression(lit(selector))))

  /** Attribute values of every selector match, document order — the
    * attribute half of a scraping schema (see [[graft.expr.CssAttrAll]]).
    * Selector and attribute must be literals. */
  def css_attr_all(html: Column, selector: String, attr: String): Column =
    column(CssAttrAll(expression(html), expression(lit(selector)),
      expression(lit(attr))))

  /** Schema-driven CSS extraction: one struct per baseSelector match,
    * one field (f0..fn) per field selector's first match in that scope
    * (see [[graft.expr.CssExtract]]). Selectors must be literals. */
  def css_extract(html: Column, baseSelector: String, fieldSelectors: String*): Column =
    column(CssExtract(
      expression(html) +: (baseSelector +: fieldSelectors).map(s => expression(lit(s)))))

  /** Structured `<table>` extraction through the real DOM: one struct
    * per cell (table, row, col, is_header, cell) — see
    * [[graft.expr.HtmlTableCells]]. */
  def html_table_cells(html: Column): Column = call(K.html_table_cells, html)

  /** DustBuster rewrite rule for a url alias pair: strip longest common
    * prefix then suffix → struct(alpha, beta) (see
    * [[graft.expr.DustRule]]). */
  def dust_rule(a: Column, b: Column): Column = call(K.dust_rule, a, b)

  /** Reference URLScorer score (url_scorer.py:44-115) as one codegen'd
    * expression node; base nullable (null → depth 0). */
  def url_score(url: Column, base: Column): Column =
    column(UrlScore(expression(url), expression(base)))

  /** Partitioned-Bloom seen-set aggregate (SURVEY.md §2.10): builds a
    * serialized BloomFilter over LONG inputs. */
  def bloom_agg(values: Column, expectedItems: Long, fpp: Double = 0.01): Column =
    column(BloomFilterAgg(expression(values), expression(lit(expectedItems)), fpp)
      .toAggregateExpression())

  /** OR-merge serialized BloomFilters of identical shape (incremental
    * seen-bloom state — see [[graft.expr.SketchKind.bloom]]). */
  def bloom_merge_agg(blooms: Column): Column =
    mergeAgg(blooms, SketchKind.bloom)

  /** Mergeable SpaceSaving frequent-items sketch: array of
    * (item, est, err, total) sorted by est desc — see
    * [[graft.expr.SpaceSavingAgg]] for bounds and the 100 TB shape. */
  def space_saving_agg(item: Column, weight: Column, capacity: Int): Column =
    column(SpaceSavingAgg(expression(item), expression(weight),
      expression(lit(capacity))).toAggregateExpression())

  /** Test a LONG against a serialized BloomFilter column. */
  def might_contain(bloom: Column, value: Column): Column =
    column(SketchProbe(expression(bloom), expression(value), SketchKind.bloom))

  /** Counting-Bloom (deletable seen pre-filter) aggregate over LONGs —
    * see [[graft.expr.CountingBloomAgg]] / [[graft.core.CountingBloom]]. */
  def cbloom_agg(values: Column, expectedItems: Long, fpp: Double = 0.01): Column =
    column(CountingBloomAgg(expression(values), expression(lit(expectedItems)), fpp)
      .toAggregateExpression())

  /** Vector-ADD merge of same-shape serialized counting filters. */
  def cbloom_merge_agg(cbfs: Column): Column =
    mergeAgg(cbfs, SketchKind.cbloom)

  /** Retire a deletion batch (a counting filter over deleted keys) from
    * counting-filter state: element-wise subtraction. */
  def cbloom_subtract(state: Column, delta: Column): Column =
    column(SketchSubtract(expression(state), expression(delta), SketchKind.cbloom))

  /** Test a LONG against a serialized counting filter. */
  def cbloom_might_contain(cbf: Column, value: Column): Column =
    column(SketchProbe(expression(cbf), expression(value), SketchKind.cbloom))

  /** Cuckoo-filter (compact deletable seen pre-filter) aggregate over
    * LONGs — see [[graft.expr.CuckooAgg]] / [[graft.core.CuckooFilter]]
    * for the answer-identity merge contract. */
  def cuckoo_agg(values: Column, expectedItems: Long): Column =
    column(CuckooAgg(expression(values), expression(lit(expectedItems)))
      .toAggregateExpression())

  /** Multiset-union merge of same-shape serialized cuckoo filters. */
  def cuckoo_merge_agg(ckfs: Column): Column =
    mergeAgg(ckfs, SketchKind.cuckoo)

  /** Retire a deletion batch (a cuckoo filter over deleted keys) from
    * cuckoo state: remove one fingerprint copy per delta entry. */
  def cuckoo_subtract(state: Column, delta: Column): Column =
    column(SketchSubtract(expression(state), expression(delta), SketchKind.cuckoo))

  /** Test a LONG against a serialized cuckoo filter. */
  def cuckoo_might_contain(ckf: Column, value: Column): Column =
    column(SketchProbe(expression(ckf), expression(value), SketchKind.cuckoo))

  /** URL identity per north rule: xxhash64 of canonical form. */
  def url_id(url: Column): Column = xxhash64(canonicalize_url(url))

  /** Host of a URL (lowercased, default-port-stripped). */
  def url_host(url: Column): Column =
    lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)", 1))

  /** Path component ("" when absent), mirroring Python urlparse().path. */
  def url_path(url: Column): Column =
    regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)

  /** Query string ("" when absent). */
  def url_query(url: Column): Column = regexp_extract(url, "\\?([^#]*)", 1)

  /** Non-empty path-segment count. */
  def path_segments(url: Column): Column =
    size(filter(split(url_path(url), "/"), s => s =!= ""))

  /** Register SQL names for the custom expressions (used by spark.sql paths
    * and by .explain readability): every kernel-table row, with its
    * fixed parameters, plus `robots_decision`. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    K.all.foreach(k =>
      reg.createOrReplaceTempFunction(k.name, es => KernelCall(k, es), "scala_udf"))
    reg.createOrReplaceTempFunction("robots_decision",
      es => RobotsDecision(es(0), es(1), es(2)), "scala_udf")
  }
}
