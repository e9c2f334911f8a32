package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.synth.{PageSynth, SynthConfig}
import graft.extract.{Classify, Dedup, FacilityExtract, Validation}
import graft.multimodal.MediaOps

import Shared._

/** Extraction queries over the synthetic page store and the documents'
  * html: facilities, media, CSS, main content, markdown, forms and tables. */
object ExtractQueries {

  val queries: Map[String, Query] = Map(
    "q33_extract_facilities" -> Query((s, dir) => { // extraction cascade + dedup
      gf.register(s)
      val cfg = SynthConfig(nPages = 400L, nHosts = 5)
      val pages = PageSynth.pages(s, cfg).toDF()
        .withColumn("canonUrl", gf.canonicalize_url(col("url")))
      Dedup(FacilityExtract.extract(pages))
        .select("sourceUrl", "name", "phone", "city", "state", "zipCode", "method")
        .orderBy("sourceUrl")
    },
      oracle = fixtureOracle("q33_extract_facilities")),

    "q36_classify" -> Query((s, dir) => // A5: keyword-frequency argmax classification
      Classify.classifyWith(T(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", Seq(
            "relational" -> Seq("table join", "query", "merge"),
            "streaming" -> Seq("stream", "batch window"),
            "ml" -> Seq("vector", "hash")))
        .select(col("doc_id"), col("best_type"), col("type_score"))
        .orderBy("doc_id"),
      oracle = """SELECT doc_id,
        | CASE WHEN m >= r AND m >= s AND m > 0 THEN 'ml'
        |      WHEN r >= s AND r > 0 THEN 'relational'
        |      WHEN s > 0 THEN 'streaming' ELSE NULL END AS best_type,
        | CAST(CASE WHEN m >= r AND m >= s AND m > 0 THEN m
        |      WHEN r >= s AND r > 0 THEN r
        |      WHEN s > 0 THEN s ELSE NULL END AS BIGINT) AS type_score
        |FROM (SELECT doc_id,
        |  (CASE WHEN contains(text, 'table join') THEN 3 WHEN contains(text, 'table') THEN 1 ELSE 0 END
        |   + CASE WHEN contains(text, 'query') THEN 3 ELSE 0 END
        |   + CASE WHEN contains(text, 'merge') THEN 3 ELSE 0 END) AS r,
        |  (CASE WHEN contains(text, 'stream') THEN 3 ELSE 0 END
        |   + CASE WHEN contains(text, 'batch window') THEN 3 WHEN contains(text, 'batch') THEN 1 ELSE 0 END) AS s,
        |  (CASE WHEN contains(text, 'vector') THEN 3 ELSE 0 END
        |   + CASE WHEN contains(text, 'hash') THEN 3 ELSE 0 END) AS m
        | FROM documents)
        |ORDER BY doc_id""".stripMargin),

    "q38_validation" -> Query((s, dir) => { // A6/F7: offline validation + summary
      gf.register(s)
      val cfg = SynthConfig(nPages = 400L, nHosts = 5)
      val pages = PageSynth.pages(s, cfg).toDF()
        .withColumn("canonUrl", gf.canonicalize_url(col("url")))
      // materialize the validated frame once; summary + fieldStats (one
      // agg pass each) both read the checkpointed parent instead of
      // re-running the extraction cascade per aggregate
      val validated = Validation.withValidation(FacilityExtract.extract(pages))
        .transform(Pin(_))
      Validation.summary(validated)
        .crossJoin(Validation.fieldStats(validated)
          .groupBy().pivot("field_name").sum("valid"))
    },
      oracle = fixtureOracle("q38_validation")),

    "q34_media_features" -> Query((s, dir) => { // multimodal plumbing (stub codec)
      val media = MediaOps.synthMedia(s, 300L)
      MediaOps.imageFeatures(media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_luma"), 4).as("mean_luma"), size(col("embedding")).as("dim"))
        .orderBy("media_id")
    },
      oracle = fixtureOracle("q34_media_features")),

    "q73_audio_features" -> Query((s, dir) => { // REAL WAV decode (javax.sound)
      val media = MediaOps.synthMedia(s, 300L)
      MediaOps.audioFeatures(media).toDF()
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("channels"), round(col("rms"), 4).as("rms"),
          round(col("zcr"), 4).as("zcr"), size(col("embedding")).as("dim"))
        .orderBy("media_id")
    },
      oracle = fixtureOracle("q73_audio_features")),

    "q74_video_frames" -> Query((s, dir) => { // REAL GFV1 seek + PNG frame decode
      val media = MediaOps.synthMedia(s, 300L)
      MediaOps.sampleFrames(media, stride = 2).toDF()
        .select(col("media_id"), col("frame_idx"),
          round(col("frame_luma"), 4).as("frame_luma"))
        .orderBy("media_id", "frame_idx")
    },
      oracle = fixtureOracle("q74_video_frames")),

    "q75_css_extract" -> Query((s, dir) => { // REAL CSS engine (C25): schema-driven extraction
      val cfg = SynthConfig(nPages = 400L, nHosts = 5)
      PageSynth.pages(s, cfg).toDF()
        .select(col("url"), explode(gf.css_extract(col("html").cast("string"),
          ".facility-card",
          "h1, h2, h3, .facility-name",
          "[itemprop='streetAddress']",
          "[itemprop='addressLocality']",
          "[itemprop='addressRegion']",
          "[itemprop='postalCode']",
          "a[href^='tel:']",
          ".services li:first-child")).as("r"))
        .select(col("url"), col("r.f0").as("name"), col("r.f1").as("street"),
          col("r.f2").as("city"), col("r.f3").as("state"), col("r.f4").as("zip"),
          col("r.f5").as("phone"), col("r.f6").as("first_service"))
        .orderBy("url")
    },
      oracle = fixtureOracle("q75_css_extract")),

    "q81_anchor_text" -> Query((s, dir) => { // anchor-text aggregation per target
      // the classic crawl→search signal: what OTHER pages' links call a
      // page (C26 multi-column link Generator → resolve → canonicalize →
      // per-target agg). Anchor sets are sorted then capped at 20 — a hot
      // target (every page links "home") must not materialize an
      // unbounded list at corpus scale.
      val cfg = SynthConfig(nPages = 400L, nHosts = 5)
      val pages = PageSynth.pages(s, cfg).toDF()
      pages.select(col("url").as("srcUrl"),
          gf.extract_links(col("html").cast("string"))
            .as(Seq("href", "anchor_text", "rel")))
        .filter(length(trim(col("anchor_text"))) > 0)
        .select(col("srcUrl"),
          gf.canonicalize_url(gf.resolve_url(col("srcUrl"), col("href")))
            .as("target"),
          lower(trim(col("anchor_text"))).as("anchor"))
        .groupBy("target")
        .agg(count_distinct(col("srcUrl")).as("n_sources"),
          count(lit(1)).as("n_anchors"),
          array_join(slice(array_sort(collect_set(col("anchor"))), 1, 20), "|")
            .as("anchors"))
        .orderBy("target")
    },
      oracle = fixtureOracle("q81_anchor_text")),

    "q89_main_content" -> Query((s, dir) => { // boilerplate removal by density
      // main_content vs extract_text over the synthetic corpus: the
      // density classifier strips nav chrome / footer / link farms and
      // keeps the card/article text — the column a prep pipeline should
      // actually train on (fixture-oracled: DuckDB cannot parse HTML).
      val cfg = SynthConfig(nPages = 400L, nHosts = 5)
      PageSynth.pages(s, cfg).toDF()
        .select(col("url"),
          gf.main_content(col("html"), minWords = 3).as("c"),
          gf.extract_text(col("html")).as("t"))
        .select(col("url"),
          md5(col("c").cast("binary")).as("content_md5"),
          length(col("c")).cast("long").as("content_chars"),
          length(col("t")).cast("long").as("all_chars"))
        .orderBy("url")
    },
      oracle = fixtureOracle("q89_main_content")),

    "q93_compression_quality" -> Query((s, dir) => { // zlib-ratio quality signal
      // the Gopher-stack redundancy detector as one codegen'd pass:
      // deflate_ratio per doc + the corpus view that makes it a GATE —
      // per-source mean ratio and the flag for sources whose ratio says
      // "templated boilerplate" (fixture-oracled: no SQL zlib; the
      // determinism of fixed-level Deflater is what's being pinned).
      T(s, dir, "documents")
        .select(col("source"), gf.deflate_ratio(col("text")).as("r"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("r")), 6).as("mean_ratio"),
          round(min(col("r")), 6).as("min_ratio"),
          round(max(col("r")), 6).as("max_ratio"))
        .withColumn("boilerplate_suspect", col("mean_ratio") < 0.3)
        .orderBy("source")
    },
      // q93 fixture is pinned at sf0.01 (the gate's scale) like q40/q47 —
      // it reads the sf documents table and zlib is not SQL-expressible
      oracle = fixtureOracle("q93_compression_quality")),

    "q94_markdown" -> Query((s, dir) => { // HTML → Markdown page representation
      // the reference's primary LLM input is crawl4ai's result.markdown
      // (hybrid_llm_navigator.py:215,435): raw markdown + chrome-pruned
      // fit markdown as ONE codegen'd pass each over the page store
      // (fixture-oracled: no SQL engine renders markdown; the pinned
      // bytes are themselves asserted by MarkdownSpec's hand cases).
      val cfg = SynthConfig(nPages = 400L, nHosts = 5)
      PageSynth.pages(s, cfg).toDF()
        .select(col("url"),
          gf.html_to_markdown(col("html")).as("md"),
          gf.html_to_markdown(col("html"), fit = true).as("fit"))
        .select(col("url"),
          md5(col("md").cast("binary")).as("md_md5"),
          length(col("md")).cast("long").as("md_chars"),
          md5(col("fit").cast("binary")).as("fit_md5"),
          length(col("fit")).cast("long").as("fit_chars"))
        .orderBy("url")
    },
      oracle = fixtureOracle("q94_markdown")),

    "q96_unicode_nfc" -> Query((s, dir) => { // unicode NFC normalization
      // normalize-before-fingerprint: decomposed combining sequences
      // planted identically from doc_id in both engines (the q45 PII
      // pattern); NFC must compose them so the JDK kernel and DuckDB's
      // nfc_normalize hash byte-for-byte identically, and the
      // codepoint count must shrink by exactly the composed marks.
      val planted = concat(col("text"), lit(" "),
        element_at(array(lit("cafe\u0301"), lit("na\u0308ive"),
          lit("A\u030Aland"), lit("fac\u0327ade")),
          (col("doc_id") % 4 + 1).cast("int")))
      T(s, dir, "documents").select(col("doc_id"),
          length(planted).cast("long").as("n_raw"),
          length(gf.unicode_normalize(planted)).cast("long").as("n_nfc"),
          md5(gf.unicode_normalize(planted).cast("binary")).as("nfc_md5"))
        .orderBy("doc_id")
    },
      // q96 oracle: JDK Normalizer NFC ≡ DuckDB nfc_normalize on the same
      // planted decomposed sequences — md5 over the composed UTF-8 bytes
      // and the code-point shrink must both agree exactly
      oracle = """WITH p AS (SELECT doc_id, text || ' ' ||
        |  CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN 'cafe' || chr(769)
        |    WHEN 1 THEN 'na' || chr(776) || 'ive'
        |    WHEN 2 THEN 'A' || chr(778) || 'land'
        |    ELSE 'fac' || chr(807) || 'ade' END AS raw
        |  FROM documents)
        |SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_raw,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_nfc,
        |  md5(nfc_normalize(raw)) AS nfc_md5
        |FROM p ORDER BY doc_id""".stripMargin),

    "q97_canonical_groups" -> Query((s, dir) => { // rel=canonical consolidation
      // duplicate-URL consolidation by DECLARED canonical: each doc
      // serves three url variants (bare, ?utm, /amp) whose heads carry
      // <link rel=canonical> + <meta og:url> (every 5th doc omits them
      // — fallback is the page url itself). Spark goes through REAL
      // html + css attribute extraction; the oracle reconstructs the
      // grouping straight from the synthesis formula, so the DOM/attr
      // path is verified end-to-end. og_agree == n_declared iff the
      // og:url extraction returns exactly the declared canonical.
      val pages = T(s, dir, "documents")
        .select(col("doc_id"), docUrl.as("canon"),
          explode(array(lit(""), lit("?utm_source=feed"), lit("/amp")))
            .as("suffix"))
        .select(col("doc_id"),
          concat(col("canon"), col("suffix")).as("page_url"),
          concat(lit("<html><head>"),
            when(col("doc_id") % 5 === 0, lit(""))
              .otherwise(concat(
                lit("<link rel=\"canonical\" href=\""), col("canon"),
                lit("\"><meta property=\"og:url\" content=\""), col("canon"),
                lit("\">"))),
            lit("<title>d</title></head><body><p>b</p></body></html>"))
            .as("html"))
      pages
        .select(col("page_url"),
          get(gf.css_attr_all(col("html"), "link[rel=canonical]", "href"), lit(0))
            .as("declared"),
          get(gf.css_attr_all(col("html"), "meta[property=\"og:url\"]", "content"), lit(0))
            .as("og"))
        .select(col("page_url"), col("declared"), col("og"),
          coalesce(col("declared"), col("page_url")).as("canonical"))
        .groupBy("canonical")
        .agg(count(lit(1)).as("n_pages"),
          count(col("declared")).as("n_declared"),
          count(when(col("declared") === col("og"), 1)).as("og_agree"),
          min(col("page_url")).as("representative"))
        .orderBy("canonical")
    },
      // q97 oracle: the canonical grouping reconstructed straight from the
      // synthesis formula — Spark must recover it through real html + css
      // attribute extraction; og_agree = n_declared because og:url is
      // synthesized equal to the canonical wherever declared
      oracle = """WITH v AS (SELECT doc_id,
        |    concat('https://', source, '.example.com/', lang, '/doc-', doc_id)
        |      AS canon,
        |    unnest(['', '?utm_source=feed', '/amp']) AS suffix
        |  FROM documents),
        |p AS (SELECT doc_id, canon || suffix AS page_url,
        |    CASE WHEN doc_id % 5 = 0 THEN NULL ELSE canon END AS declared
        |  FROM v)
        |SELECT coalesce(declared, page_url) AS canonical,
        |  CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(count(declared) AS BIGINT) AS n_declared,
        |  CAST(count(declared) AS BIGINT) AS og_agree,
        |  min(page_url) AS representative
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),

    "q100_robots_meta" -> Query((s, dir) => { // robots meta + rel=nofollow
      // page-level <meta name=robots> directives and link-level
      // rel=nofollow — the index/frontier gates every polite crawler
      // applies after fetch. Pages synthesized per doc_id%4 (none /
      // noindex / nofollow / both, plus one nofollow link of two);
      // Spark recovers the gates through the real DOM + link
      // extraction, the oracle replays the mode arithmetic.
      val mode = (col("doc_id") % 4).cast("int")
      val metaTag =
        when(mode === 1, lit("<meta name=\"robots\" content=\"noindex\">"))
          .when(mode === 2, lit("<meta name=\"robots\" content=\"nofollow\">"))
          .when(mode === 3,
            lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
          .otherwise(lit(""))
      val pages = T(s, dir, "documents").select(col("doc_id"),
        concat(lit("<html><head>"), metaTag,
          lit("</head><body><a href=\"/a\">one</a>" +
            "<a href=\"/b\" rel=\"nofollow\">two</a></body></html>"))
          .as("html"))
      val robots = lower(coalesce(
        get(gf.css_attr_all(col("html"), "meta[name=robots]", "content"),
          lit(0)), lit("")))
      pages
        .select(col("doc_id"),
          (!robots.contains("noindex")).as("indexable"),
          (!robots.contains("nofollow")).as("follow_page"),
          gf.extract_links(col("html")).as(Seq("href", "anchor_text", "rel")))
        .groupBy("doc_id", "indexable", "follow_page")
        .agg(count(lit(1)).as("n_links"),
          count(when(col("follow_page") &&
            !coalesce(col("rel"), lit("")).contains("nofollow"), 1))
            .as("n_follow_links"))
        .select(col("doc_id"), col("indexable"), col("n_links"),
          col("n_follow_links"))
        .orderBy("doc_id")
    },
      // q100 oracle: the robots-gate mode arithmetic — Spark must recover
      // it through real meta/content extraction and the link generator
      oracle = """SELECT doc_id,
        | CAST(doc_id % 4 AS INT) NOT IN (1, 3) AS indexable,
        | CAST(2 AS BIGINT) AS n_links,
        | CAST(CASE WHEN CAST(doc_id % 4 AS INT) IN (2, 3)
        |      THEN 0 ELSE 1 END AS BIGINT) AS n_follow_links
        |FROM documents ORDER BY doc_id""".stripMargin),

    "q109_search_endpoints" -> Query((s, dir) => { // form/search-endpoint discovery
      // the reference's _discover_search_endpoints (navigation.py:184-220)
      // through the REAL DOM: extract_forms Generator → location-keyword
      // classifier on the form text → action resolved against the page
      // url (urljoin rule) → field inventory. Every doc synthesizes a
      // login form (no keyword — must be filtered out) plus, unless
      // id%4==1, a search form whose action/method/fields vary by id;
      // the oracle reconstructs the endpoint table straight from the
      // synthesis formula, so the DOM, classifier, resolve, and
      // type-default paths are verified end-to-end (the q97 pattern).
      val m2 = pmod(col("doc_id"), lit(2))
      val m3 = pmod(col("doc_id"), lit(3))
      val m5 = pmod(col("doc_id"), lit(5)).cast("int")
      val kw = array(lit("location"), lit("find"), lit("search"),
        lit("facility"), lit("center"))
      val searchForm = concat(
        lit("<form"),
        when(m3 === 0, lit("")) // action attribute ABSENT → endpoint = page url
          .when(m3 === 1, lit(" action=\"/search\""))
          .otherwise(lit(" action=\"https://ext.example.org/find?x=1\"")),
        when(m2 === 0, lit("")) // method absent → default get
          .otherwise(lit(" method=\"POST\"")), // uppercase → lowercased
        lit("><label>"), element_at(kw, m5 + 1), lit(" here</label>"),
        lit("<input name=\"q0\" required>"), // no type attr → default text
        when(m3 >= 1, lit("<input name=\"q1\" type=\"hidden\">")).otherwise(lit("")),
        when(m3 >= 2, lit("<input name=\"q2\" type=\"text\" required>")).otherwise(lit("")),
        when(m2 === 0, // select: the reference's get('type','text') quirk → text
          lit("<select name=\"state\"><option>aa</option></select>")).otherwise(lit("")),
        lit("</form>"))
      val html = concat(
        lit("<html><body><div><form action=\"/login\" method=\"post\">"),
        lit("<input name=\"user\" type=\"text\"><p>member sign-in</p></form>"),
        when(pmod(col("doc_id"), lit(4)) =!= 1, searchForm).otherwise(lit("")),
        lit("</div></body></html>"))
      T(s, dir, "documents")
        .select(col("doc_id"), docUrl.as("base_url"), html.as("html"))
        .select(col("doc_id"), col("base_url"),
          gf.extract_forms(col("html"))
            .as(Seq("action", "method", "form_text", "fields")))
        .filter(exists(kw, k => contains(lower(col("form_text")), k)))
        .select(col("doc_id"),
          when(col("action").isNull || col("action") === "", col("base_url"))
            .otherwise(gf.resolve_url(col("base_url"), col("action")))
            .as("endpoint"),
          col("method"),
          size(col("fields")).cast("long").as("n_fields"),
          array_join(transform(col("fields"), f => f("name")), ",").as("names"),
          array_join(transform(col("fields"), f => f("type")), ",").as("types"),
          size(filter(col("fields"), f => f("required"))).cast("long")
            .as("n_required"))
        .orderBy("doc_id")
    },
      // q109 oracle: the synthesis formula replayed — endpoint resolve rule
      // (absent action → page url; relative → scheme+host join; absolute
      // stays), method default/lowercase, field inventory incl. the
      // select→'text' type-default quirk; docs with id%4==1 emit no
      // search form, and the login form never passes the classifier
      oracle = s"""SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 0 THEN $docUrlSql
         |       WHEN doc_id % 3 = 1
         |         THEN concat('https://', source, '.example.com/search')
         |       ELSE 'https://ext.example.org/find?x=1' END AS endpoint,
         |  CASE WHEN doc_id % 2 = 0 THEN 'get' ELSE 'post' END AS method,
         |  CAST((doc_id % 3 + 1)
         |    + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_fields,
         |  concat('q0', CASE WHEN doc_id % 3 >= 1 THEN ',q1' ELSE '' END,
         |    CASE WHEN doc_id % 3 >= 2 THEN ',q2' ELSE '' END,
         |    CASE WHEN doc_id % 2 = 0 THEN ',state' ELSE '' END) AS names,
         |  concat('text', CASE WHEN doc_id % 3 >= 1 THEN ',hidden' ELSE '' END,
         |    CASE WHEN doc_id % 3 >= 2 THEN ',text' ELSE '' END,
         |    CASE WHEN doc_id % 2 = 0 THEN ',text' ELSE '' END) AS types,
         |  CAST(CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END AS BIGINT) AS n_required
         |FROM documents WHERE doc_id % 4 <> 1 ORDER BY doc_id""".stripMargin),

    "q144_table_extract" -> Query((s, dir) => { // HTML table → rows extraction
      // Structured <table> extraction through the real DOM
      // (expr/HtmlTableCells): tables in document order, thead/tbody
      // transparent, cells indexed per row, is_header from th — the
      // tabular scraping surface next to the CSS field extractors
      // (facility rosters ARE html tables in the reference's domain).
      // Payloads are planted deterministically from doc_id in-query
      // (the q98 construction pattern): 2+doc_id%3 data rows, a second
      // single-cell table on doc_id%5==0, and — the tolerance proof —
      // ODD doc_ids omit EVERY </tr>, so the DOM's sloppy-row recovery
      // must extract them identically to the well-formed evens. The
      // oracle recomputes the expected cells from the same formula
      // (q97 formula-level style), never parsing HTML.
      val docs = T(s, dir, "documents").select("doc_id")
      val nr = pmod(col("doc_id"), lit(3)) + 2
      val dataRows = array_join(transform(sequence(lit(1), nr), i =>
        concat(lit("<tr><td>item-"), col("doc_id").cast("string"), lit("-"),
          i.cast("string"), lit("</td><td>"),
          (col("doc_id") * i).cast("string"), lit("</td>"),
          when(pmod(col("doc_id"), lit(2)) === 1, lit(""))
            .otherwise(lit("</tr>")))), "")
      val html = concat(
        lit("<html><body><table><thead><tr><th>name</th><th>count</th>" +
          "</tr></thead><tbody>"),
        dataRows, lit("</tbody></table>"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit("<table><tr><td>x</td></tr></table>")).otherwise(lit("")),
        lit("</body></html>"))
      docs.select(col("doc_id"), explode(gf.html_table_cells(html)).as("c"))
        .select(col("doc_id"), col("c.table").as("table_idx"),
          col("c.row").as("row_idx"), col("c.col").as("col_idx"),
          col("c.is_header").as("is_header"), col("c.cell").as("cell"))
        .orderBy("doc_id", "table_idx", "row_idx", "col_idx")
    },
      // q144 oracle: the planted-table formula recomputed directly —
      // header row 0, data rows 1..nr, second table for doc_id%5==0;
      // never parses HTML (the q97 formula-level contract)
      oracle = """WITH d AS (SELECT doc_id, doc_id % 3 + 2 AS nr FROM documents),
        |hdr AS (SELECT doc_id, 0 AS table_idx, 0 AS row_idx,
        |   v.c AS col_idx, true AS is_header,
        |   CASE v.c WHEN 0 THEN 'name' ELSE 'count' END AS cell
        |  FROM d, (VALUES (0), (1)) v(c)),
        |dat AS (SELECT doc_id, 0 AS table_idx, CAST(i AS INT) AS row_idx,
        |   0 AS col_idx, false AS is_header,
        |   'item-' || doc_id::VARCHAR || '-' || i::VARCHAR AS cell
        |  FROM d, unnest(range(1, nr + 1)) t(i)
        | UNION ALL
        | SELECT doc_id, 0, CAST(i AS INT), 1, false, (doc_id * i)::VARCHAR
        |  FROM d, unnest(range(1, nr + 1)) t(i)),
        |ext AS (SELECT doc_id, 1 AS table_idx, 0 AS row_idx, 0 AS col_idx,
        |   false AS is_header, 'x' AS cell FROM d WHERE doc_id % 5 = 0)
        |SELECT * FROM (SELECT * FROM hdr UNION ALL SELECT * FROM dat
        |  UNION ALL SELECT * FROM ext)
        |ORDER BY doc_id, table_idx, row_idx, col_idx""".stripMargin)
  )
}
