package graft.expr

import graft.SparkTestBase
import graft.functions.gf
import org.apache.spark.sql.functions._

class GraftExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  test("canonicalize_url / url_id as Columns, codegen path") {
    val df = Seq(
      "HTTPS://ExAmple.COM:443/A/../b?z=1&a=2#f",
      "example.com/x",
      "http://h.com:80/p?").toDF("url")
    val got = df.select(gf.canonicalize_url($"url").as("c"), gf.url_id($"url").as("h"))
      .collect()
    assert(got.map(_.getString(0)).toSeq ==
      Seq("https://example.com/b?a=2&z=1", "https://example.com/x", "http://h.com/p"))
    // url_id = xxhash64 of the canonical string
    val expect = df.select(xxhash64(gf.canonicalize_url($"url"))).collect().map(_.getLong(0))
    assert(got.map(_.getLong(1)).sameElements(expect))
  }

  test("resolve_url column") {
    val df = Seq(("https://a.com/b/c", "../x"), ("https://a.com/b/", "y?q=1"))
      .toDF("base", "href")
    val got = df.select(gf.resolve_url($"base", $"href")).as[String].collect()
    assert(got.toSeq == Seq("https://a.com/x", "https://a.com/b/y?q=1"))
  }

  test("extract_text on BINARY and STRING columns agree") {
    val html = "<p>Hello <b>World</b></p><script>no</script>"
    val df = Seq(html).toDF("s")
      .withColumn("b", $"s".cast("binary"))
    val r = df.select(gf.extract_text($"s").as("ts"), gf.extract_text($"b").as("tb"))
      .head()
    assert(r.getString(0) == "Hello World")
    assert(r.getString(1) == "Hello World")
  }

  test("char_overlap_sim matches reference semantics (deduplicator.py:166-182)") {
    val df = Seq(("sunrise care", "sunrise cares"), ("abc", "abc"), ("", "x"))
      .toDF("a", "b")
    val got = df.select(gf.char_overlap_sim($"a", $"b")).as[Double].collect()
    assert(got(0) == 12.0 / 13.0)   // 12 positional matches / longer=13
    assert(got(1) == 1.0)
    assert(got(2) == 0.0)
  }

  test("SQL registration works") {
    gf.register(spark)
    val r = spark.sql("SELECT canonicalize_url('EXAMPLE.com/a/../b') AS c").head().getString(0)
    assert(r == "https://example.com/b")
    val row = spark.sql(
      s"""SELECT html_to_markdown('<h1>T</h1><p>a <b>b</b></p>') AS md,
         |  unicode_normalize('café') AS n,
         |  sniff_mime(CAST('GIF89a..' AS BINARY)) AS m,
         |  sniff_charset(CAST('plain' AS BINARY)) AS cs""".stripMargin).head()
    assert(row.getString(0) == "# T\n\na **b**")
    assert(row.getString(1) == "caf\u00E9")
    assert(row.getString(2) == "image/gif")
    assert(row.getString(3) == "utf-8")
  }

  test("expressions survive filters/joins in codegen'd plans") {
    val df = (1 to 100).map(i => s"https://h${i % 5}.com/p/$i").toDF("url")
    val n = df.filter(length(gf.canonicalize_url($"url")) > 10)
      .select(gf.url_id($"url")).distinct().count()
    assert(n == 100)
  }

  test("anchor-text aggregation (q81 semantics): resolve+canonicalize+sorted cap") {
    val pages = Seq(
      ("https://a.example.com/",
        """<a href="/p1">Home</a><a href='/p2'>About Us</a><a href="/p1"> </a>"""),
      ("https://b.example.com/dir/x",
        """<a href="https://a.example.com/p1">HOME</a><a href="p3">Deep</a>""")
    ).toDF("url", "html")
    val got = pages.select(col("url").as("srcUrl"),
        gf.extract_links(col("html")).as(Seq("href", "anchor_text", "rel")))
      .filter(length(trim(col("anchor_text"))) > 0)
      .select(col("srcUrl"),
        gf.canonicalize_url(gf.resolve_url(col("srcUrl"), col("href"))).as("target"),
        lower(trim(col("anchor_text"))).as("anchor"))
      .groupBy("target")
      .agg(count_distinct(col("srcUrl")).as("n_sources"),
        count(lit(1)).as("n_anchors"),
        array_join(slice(array_sort(collect_set(col("anchor"))), 1, 20), "|")
          .as("anchors"))
      .orderBy("target")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      // whitespace-only anchor on /p1 filtered; "home" from both hosts
      ("https://a.example.com/p1", 2L, 2L, "home"),
      ("https://a.example.com/p2", 1L, 1L, "about us"),
      // relative "p3" resolves against /dir/x → /dir/p3
      ("https://b.example.com/dir/p3", 1L, 1L, "deep")))
  }

  test("unicode_normalize: NFC composes, NFKC folds compatibility forms, ascii fast path") {
    val df = Seq(
      "cafe\u0301",     // e + combining acute -> e-acute
      "\uFF28\uFF49",   // fullwidth HI: NFC keeps, NFKC folds to ascii
      "\u2460 first",   // circled one: NFKC folds to '1'
      "plain ascii").toDF("t")
    val nfc = df.select(gf.unicode_normalize($"t").as("n"),
      length($"t").as("lr"), length(gf.unicode_normalize($"t")).as("ln")).collect()
    assert(nfc(0).getString(0) == "caf\u00E9" &&
      nfc(0).getInt(1) == 5 && nfc(0).getInt(2) == 4)
    assert(nfc(1).getString(0) == "\uFF28\uFF49") // NFC leaves compatibility forms
    assert(nfc(3).getString(0) == "plain ascii")
    val nfkc = df.select(gf.unicode_normalize($"t", "NFKC").as("n")).collect()
    assert(nfkc(0).getString(0) == "caf\u00E9")
    assert(nfkc(1).getString(0) == "Hi")
    assert(nfkc(2).getString(0) == "1 first")
    // dedup motivation: decomposed and precomposed fingerprint identically post-NFC
    val pair = Seq("re\u0301sume\u0301", "r\u00E9sum\u00E9").toDF("t")
      .select(md5(gf.unicode_normalize($"t").cast("binary")).as("h"))
      .collect().map(_.getString(0))
    assert(pair(0) == pair(1))
    intercept[IllegalArgumentException](gf.unicode_normalize(lit("x"), "NFX"))
  }
}
