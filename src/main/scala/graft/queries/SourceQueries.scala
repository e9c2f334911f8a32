package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.sources.{Feeds, Sitemap, Warc}

import Shared._

/** Page-source queries: sitemaps, WARC archives, feeds, charset and MIME
  * sniffing. */
object SourceQueries {

  val queries: Map[String, Query] = Map(
    "q37_sitemap_locs" -> Query((s, dir) => { // S4: sitemap <loc> explode
      val xml = concat(lit("<urlset><url><loc>https://"), col("source"),
        lit(".com/p"), col("doc_id"), lit("</loc></url><url><loc>https://"),
        col("source"), lit(".com/n"), col("doc_id"), lit("</loc></url></urlset>"))
      Sitemap.explodeLocs(
          T(s, dir, "documents").select(col("source"), xml.as("xml")), "xml")
        .groupBy("source").agg(count("*").as("n_locs"))
        .orderBy("source")
    },
      oracle = """SELECT source, CAST(count(*) * 2 AS BIGINT) AS n_locs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    "q82_warc_scan" -> Query((s, dir) => { // WARC archive segments round trip
      // the Common Crawl container: the documents table serialized as
      // real WARC/1.0 segments (per-record gzip members, warcinfo +
      // full HTTP response blocks), re-read through the one-task-per-
      // file binaryFile scan, HTTP-parsed, and reconciled row-by-row
      // against the source — octet lengths and md5 digests must survive
      // serialize→gzip→parse bit-exactly.
      val out = new org.apache.hadoop.fs.Path(
        System.getProperty("java.io.tmpdir"),
        "graft-warc-" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
      out.getFileSystem(s.sparkContext.hadoopConfiguration).delete(out, true)
      Warc.write(
        T(s, dir, "documents").select(docUrl.as("url"),
          lit("2026-02-01T00:00:00Z").as("date"), col("text").as("body")),
        out.toString, nFiles = 8, gzip = true)
      Warc.responses(Warc.read(s, out.toString))
        .select(
          regexp_extract(col("url"), "doc-([0-9]+)$", 1).cast("long").as("doc_id"),
          col("http_status"), col("body_octets"),
          md5(col("body_text").cast("binary")).as("body_md5"))
        .orderBy("doc_id")
    },
      // q82 oracle: the WARC serialize→gzip→parse round trip must return
      // exactly the source rows — status injected by the writer, octet
      // length and md5 of the UTF-8 body recomputed from documents.text
      // (DuckDB strlen/md5 operate on the same UTF-8 bytes)
      oracle = """SELECT doc_id, 200 AS http_status,
        | CAST(strlen(text) AS BIGINT) AS body_octets,
        | md5(text) AS body_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    "q83_warc_fetch" -> Query((s, dir) => { // CDX ranged point-lookups
      // random access into the archive: segments + CDX sidecar written
      // once, then a sparse url subset fetched by (file, offset, length)
      // ranged reads — each range a standalone gzip member, so 10^4
      // lookups against a 10^10-record archive cost 10^4 ranged reads,
      // not a segment scan.
      val out = new org.apache.hadoop.fs.Path(
        System.getProperty("java.io.tmpdir"),
        "graft-warc-cdx-" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
      out.getFileSystem(s.sparkContext.hadoopConfiguration).delete(out, true)
      Warc.writeWithCdx(
        T(s, dir, "documents").select(docUrl.as("url"),
          lit("2026-02-01T00:00:00Z").as("date"), col("text").as("body")),
        out.toString, nFiles = 8, gzip = true)
      val wanted = Warc.readCdx(s, out.toString).filter(
        pmod(regexp_extract(col("url"), "doc-([0-9]+)$", 1).cast("long"),
          lit(37)) === 5)
      Warc.responses(Warc.fetchRanged(wanted))
        .select(
          regexp_extract(col("url"), "doc-([0-9]+)$", 1).cast("long").as("doc_id"),
          col("http_status"), col("body_octets"),
          md5(col("body_text").cast("binary")).as("body_md5"))
        .orderBy("doc_id")
    },
      // q83 oracle: the ranged CDX fetch of the doc_id%37==5 slice must
      // return exactly those source rows (same digest reconciliation as q82)
      oracle = """SELECT doc_id, 200 AS http_status,
        | CAST(strlen(text) AS BIGINT) AS body_octets,
        | md5(text) AS body_md5
        |FROM documents WHERE doc_id % 37 = 5 ORDER BY doc_id""".stripMargin),

    "q91_sitemap_recursion" -> Query((s, dir) => { // nested sitemap-index resolve
      // two-level sitemaps.org tree synthesized from documents (per host
      // h=doc_id%10: one <sitemapindex> root listing two <urlset>
      // children split by (doc_id/10)%2); resolveIndexes recurses via
      // store equi-joins (never a driver loop over files) and the
      // per-host loc counts must match the independent GROUP BY
      // derivation that never sees any XML.
      val d = T(s, dir, "documents").select(col("doc_id"),
        concat(lit("h"), pmod(col("doc_id"), lit(10)).cast("string")).as("host"),
        pmod(floor(col("doc_id") / 10), lit(2)).cast("string").as("part"))
      val urlsets = d.groupBy("host", "part").agg(
          concat(lit("<urlset>"),
            array_join(array_sort(collect_list(concat(
              lit("<url><loc>https://"), col("host"),
              lit(".example.com/doc-"), col("doc_id").cast("string"),
              lit("</loc></url>")))), ""),
            lit("</urlset>")).as("xml"))
        .select(col("host"),
          concat(lit("https://"), col("host"), lit(".example.com/sitemap-"),
            col("part"), lit(".xml")).as("url"),
          col("xml"))
      val index = urlsets.groupBy("host").agg(
          concat(lit("<sitemapindex>"),
            array_join(array_sort(collect_list(concat(
              lit("<sitemap><loc>"), col("url"), lit("</loc></sitemap>")))), ""),
            lit("</sitemapindex>")).as("xml"))
        .select(col("host"),
          concat(lit("https://"), col("host"),
            lit(".example.com/sitemap.xml")).as("url"),
          col("xml"))
      Sitemap.resolveIndexes(index, urlsets.select("url", "xml"), maxDepth = 2)
        .groupBy("host")
        .agg(count(lit(1)).as("n_locs"),
          count_distinct(col("loc")).as("n_distinct"))
        .orderBy("host")
    },
      // q91 oracle: the per-host page counts derived WITHOUT XML — the
      // recursion must deliver exactly one loc per (host, doc)
      oracle = """SELECT 'h' || (doc_id % 10) AS host,
        | CAST(count(*) AS BIGINT) AS n_locs,
        | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct
        |FROM documents GROUP BY 1 ORDER BY host""".stripMargin),

    "q95_feed_entries" -> Query((s, dir) => { // RSS/Atom feed source round trip
      // new-URL discovery via feeds: the documents table serialized as
      // real RSS 2.0 (even srcN) / Atom 1.0 (odd srcN) XML — escaped
      // titles in RSS, CDATA titles in Atom — then parsed back through
      // the tolerant column-only parser and reconciled row-by-row
      // against a direct SQL reconstruction (the q82 WARC pattern).
      val grouped = T(s, dir, "documents")
        .select(col("source"),
          struct(docUrl.as("url"),
            substring(col("text"), 1, 60).as("title"),
            concat(lit("2026-01-"),
              lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"))
              .as("published")).as("item"))
        .groupBy("source")
        .agg(sort_array(collect_list(col("item"))).as("items"))
      Feeds.entries(Feeds.synthesize(grouped))
        .select(
          regexp_extract(col("entry_url"), "doc-([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          col("fmt"), col("feed_url"), col("entry_url"),
          col("title"), col("published"))
        .orderBy("doc_id")
    },
      // q95 oracle: the feed serialize→parse round trip must return exactly
      // the source rows — fmt/feed_url/title/published reconstructed by the
      // same deterministic formulas the synthesizer used (escape∘unescape
      // and CDATA-wrap∘unwrap are identities on well-formed titles)
      oracle = """SELECT doc_id,
        | CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0
        |      THEN 'rss' ELSE 'atom' END AS fmt,
        | 'https://' || source || '.example.com/feed.xml' AS feed_url,
        | concat('https://', source, '.example.com/', lang, '/doc-', doc_id)
        |   AS entry_url,
        | substring(text, 1, 60) AS title,
        | '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |   AS published
        |FROM documents ORDER BY doc_id""".stripMargin),

    "q98_charset_sniff" -> Query((s, dir) => { // charset sniff + decode round trip
      // the real web is not all UTF-8: each doc's page is encoded per
      // doc_id%5 as meta-labeled UTF-8, BOM'd UTF-16LE/BE, meta-labeled
      // ISO-8859-1, or bare unlabeled UTF-8 (planted é makes the
      // encodings genuinely differ); sniff_decode must identify the
      // charset (BOM → meta → UTF-8 check) and recover the original
      // string byte-identically — the oracle builds that string
      // directly in SQL and never sees the encoded bytes.
      val mode = (col("doc_id") % 5).cast("int")
      val page = concat(lit("<html><head>"),
        when(mode === 0, lit("<meta charset=\"utf-8\">"))
          .when(mode === 3, lit("<meta charset=\"iso-8859-1\">"))
          .otherwise(lit("")),
        lit("</head><body><p>"), col("text"),
        lit(" caf\u00E9</p></body></html>"))
      val bytes =
        when(mode === 1, concat(
            lit(Array(0xFF.toByte, 0xFE.toByte)), encode(page, "UTF-16LE")))
          .when(mode === 2, concat(
            lit(Array(0xFE.toByte, 0xFF.toByte)), encode(page, "UTF-16BE")))
          .when(mode === 3, encode(page, "ISO-8859-1"))
          .otherwise(encode(page, "UTF-8"))
      T(s, dir, "documents")
        .select(col("doc_id"), bytes.as("raw"))
        .select(col("doc_id"),
          gf.sniff_charset(col("raw")).as("charset"),
          length(gf.sniff_decode(col("raw"))).cast("long").as("n_chars"),
          md5(gf.sniff_decode(col("raw")).cast("binary")).as("text_md5"))
        .orderBy("doc_id")
    },
      // q98 oracle: the pre-encode page string rebuilt directly in SQL —
      // the Spark side must sniff the charset and decode the bytes back to
      // exactly this string (md5 over UTF-8, code-point length)
      oracle = """WITH b AS (SELECT doc_id,
        |  '<html><head>' ||
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN '<meta charset="utf-8">'
        |    WHEN 3 THEN '<meta charset="iso-8859-1">'
        |    ELSE '' END ||
        |  '</head><body><p>' || text || ' caf' || chr(233)
        |    || '</p></body></html>' AS page
        |FROM documents)
        |SELECT doc_id,
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 1 THEN 'utf-16le' WHEN 2 THEN 'utf-16be'
        |    WHEN 3 THEN 'iso-8859-1' ELSE 'utf-8' END AS charset,
        |  CAST(length(page) AS BIGINT) AS n_chars,
        |  md5(page) AS text_md5
        |FROM b ORDER BY doc_id""".stripMargin),

    "q102_mime_route" -> Query((s, dir) => { // MIME sniff + response routing
      // content-type gating before the text pipeline: each doc's
      // payload carries a different container per doc_id%8 (html with
      // leading whitespace, PDF, PNG/GIF magic, ZIP, GZIP, plain text,
      // text poisoned with a NUL) — sniff_mime must route every one;
      // the per-source route counts are replayed by mode arithmetic.
      val mode = (col("doc_id") % 8).cast("int")
      val textBytes = encode(col("text"), "UTF-8")
      val payload =
        when(mode === 0, encode(concat(lit(" \n<!DOCTYPE html><html><body>"),
            col("text"), lit("</body></html>")), "UTF-8"))
          .when(mode === 1, concat(encode(lit("%PDF-1.7\n"), "UTF-8"), textBytes))
          .when(mode === 2, concat(
            lit(Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
              0x0D.toByte, 0x0A.toByte, 0x1A.toByte, 0x0A.toByte)), textBytes))
          .when(mode === 3, concat(encode(lit("GIF89a"), "UTF-8"), textBytes))
          .when(mode === 4, concat(
            lit(Array('P'.toByte, 'K'.toByte, 0x03.toByte, 0x04.toByte)), textBytes))
          .when(mode === 5, concat(lit(Array(0x1F.toByte, 0x8B.toByte)), textBytes))
          .when(mode === 6, textBytes)
          .otherwise(concat(lit(Array(0x00.toByte)), textBytes))
      T(s, dir, "documents")
        .select(col("source"), gf.sniff_mime(payload).as("mime"))
        .groupBy("source", "mime").agg(count(lit(1)).as("n"))
        .orderBy("source", "mime")
    },
      // q102 oracle: the route label per doc_id%8 mode, counted per source
      oracle = """SELECT source,
        | CASE CAST(doc_id % 8 AS INT)
        |   WHEN 0 THEN 'text/html' WHEN 1 THEN 'application/pdf'
        |   WHEN 2 THEN 'image/png' WHEN 3 THEN 'image/gif'
        |   WHEN 4 THEN 'application/zip' WHEN 5 THEN 'application/gzip'
        |   WHEN 6 THEN 'text/plain'
        |   ELSE 'application/octet-stream' END AS mime,
        | CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY source, mime""".stripMargin),

    "q110_warc_revisit" -> Query((s, dir) => { // dedup-aware archiving (revisit records)
      // the Common Crawl container feature q82 skipped: an unchanged
      // page (payload digest == prior capture's) is archived as a
      // payload-LESS `revisit` record pointing at the original capture
      // (sources/Warc.writeIndexedDedup). Prior snapshot by formula:
      // id%3==0 unchanged → revisit, id%3==1 changed digest → full
      // response, id%3==2 never archived → full response. The re-read
      // verifies record type, zero/full payload octets, the sha-256
      // payload-digest header, and the refers-to back-pointers.
      val out = new org.apache.hadoop.fs.Path(
        System.getProperty("java.io.tmpdir"),
        "graft-warc-rv-" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
      out.getFileSystem(s.sparkContext.hadoopConfiguration).delete(out, true)
      val docs = T(s, dir, "documents").select(docUrl.as("url"),
        lit("2026-03-01T00:00:00Z").as("date"), col("text").as("body"),
        col("doc_id"))
      val prior = docs.filter(pmod(col("doc_id"), lit(3)) < 2).select(
        col("url"),
        when(pmod(col("doc_id"), lit(3)) === 0,
            sha2(col("body").cast("binary"), 256))
          .otherwise(sha2(concat(col("body"), lit(" CHANGED")).cast("binary"), 256))
          .as("digest"),
        lit("2025-12-01T00:00:00Z").as("prior_date"))
      Warc.writeIndexedDedup(docs.select("url", "date", "body"), prior,
        out.toString, nFiles = 8, gzip = true).foreach(_ => ())
      Warc.read(s, out.toString)
        .filter(col("warc_type").isin("response", "revisit"))
        .join(docs.select(col("url"), col("doc_id"), col("body").as("__orig")),
          col("target_uri") === col("url"))
        .select(col("doc_id"),
          col("warc_type").as("rec_type"),
          octet_length(col("body")).cast("long").as("body_octets"),
          (col("payload_digest") ===
            concat(lit("sha256:"), sha2(col("__orig").cast("binary"), 256)))
            .as("digest_ok"),
          when(col("warc_type") === "revisit",
            col("refers_to_uri") === col("url") &&
              col("refers_to_date") === lit("2025-12-01T00:00:00Z") &&
              col("warc_profile").contains("identical-payload-digest"))
            .otherwise(col("refers_to_uri") === "").as("refers_ok"))
        .orderBy("doc_id")
    },
      // q110 oracle: the dedup formula replayed — unchanged pages (id%3==0)
      // become payload-less revisits, changed/new pages full responses;
      // digest and refers-to header checks are asserted as booleans on the
      // Spark side (sha-256 recomputed per row there), so the oracle pins
      // them to TRUE and the octet counts to the UTF-8 body length
      oracle = """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'revisit' ELSE 'response' END AS rec_type,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 0
        |       ELSE octet_length(encode(text)) END AS BIGINT) AS body_octets,
        |  TRUE AS digest_ok, TRUE AS refers_ok
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
