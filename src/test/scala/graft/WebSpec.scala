package graft

import org.apache.spark.sql.functions._

/** Web-corpus preparation of pipeline.Web: markup stripping, URL
 * canonicalization, link extraction, link graphs and host statistics. */
class WebSpec extends TestBase {
  import spark.implicits._

  test("stripMarkup removes spans, comments, tags; decodes entities once") {
    val rows = Seq(
      (1, "<html><head><script type=\"x\">if (a < b) { run() }</script>" +
        "<STYLE>p { color: red }</STYLE></head>" +
        "<body><h1>Hi</h1><p>a &amp; b &lt;tag&gt; &quot;q&quot; " +
        "&#39;s&#39;&nbsp;end</p><!-- secret --></body></html>"),
      (2, "no markup at all"),
      (3, "double &amp;amp; stays encoded once"),
      (4, "a<br>b\t\tc\n\nd")).toDF("id", "html")
    val got = pipeline.Web.stripMarkup(rows, "id", "html").collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    // 15 raw tag matches: the "<" inside the script body greedily pairs
    // with the next ">" (the </script> close) — a diagnostic count, not
    // a parse
    assert(got(1) == ("Hi a & b <tag> \"q\" 's' end", 15), got(1))
    assert(got(2) == ("no markup at all", 0L), got(2))
    // single decode pass: "&amp;amp;" means the literal text "&amp;"
    assert(got(3) == ("double &amp; stays encoded once", 0L), got(3))
    // tags and whitespace runs become single spaces
    assert(got(4) == ("a b c d", 1L), got(4))
  }

  test("stripMarkup: unterminated script drops the rest (stated bound)") {
    val rows = Seq((1, "<p>keep</p><script>lost forever")).toDF("id", "html")
    val got = pipeline.Web.stripMarkup(rows, "id", "html").collect().head
    // the span regex needs a closing tag; the orphan open tag is still
    // stripped as a tag, leaving the script BODY as text — stated in the
    // scaladoc as the streaming-extractor bound
    assert(got.getString(1) == "keep lost forever", got.getString(1))
  }

  test("stripMarkup is idempotent on its own output") {
    val rows = Seq((1, "<p>a &amp; b</p>")).toDF("id", "html")
    val once = pipeline.Web.stripMarkup(rows, "id", "html")
      .select(col("id"), col("text").as("html"))
    val twice = pipeline.Web.stripMarkup(once, "id", "html").collect().head
    // "a & b" survives a second pass unchanged (no tags, "&" alone is
    // not an entity)
    assert(twice.getString(1) == "a & b" && twice.getLong(2) == 0L)
  }

  private def canon(url: String): (String, String, String) = {
    val r = pipeline.Web.urlCanonical(
      Seq((1, url)).toDF("id", "url"), "id", "url").collect().head
    (r.getString(1), r.getString(2), r.getString(3))
  }

  test("urlCanonical lowercases scheme/host, drops default port + www key") {
    assert(canon("HTTP://WWW.Example.COM:80/A/b") ==
      ("http://www.example.com/A/b", "example.com", "example.com/A/b"))
    assert(canon("HTTPS://Ex.com:443/") ==
      ("https://ex.com/", "ex.com", "ex.com/"))
    // non-default and non-http(s) ports survive
    assert(canon("http://ex.com:8080/x")._1 == "http://ex.com:8080/x")
    assert(canon("ftp://Ex.com:21/x")._1 == "ftp://ex.com:21/x")
  }

  test("urlCanonical drops userinfo, fragment, tracking params; sorts query") {
    assert(canon("https://u:p@ex.com/x?b=2&utm_source=s&a=1&gclid=g#frag") ==
      ("https://ex.com/x?a=1&b=2", "ex.com", "ex.com/x?a=1&b=2"))
    // tracking-only query leaves no '?'
    assert(canon("http://ex.com/x?utm_campaign=c")._1 == "http://ex.com/x")
    // bare utm param without '=' is still tracking
    assert(canon("http://ex.com/x?utm_x&a=1")._1 == "http://ex.com/x?a=1")
  }

  test("urlCanonical trims trailing slashes; root path stays '/'") {
    assert(canon("http://ex.com/a/b///")._1 == "http://ex.com/a/b")
    assert(canon("http://ex.com")._1 == "http://ex.com/")
    assert(canon("http://ex.com/?a=1")._1 == "http://ex.com/?a=1")
  }

  test("urlCanonical: non-URLs produce null outputs, never a wrong key") {
    val r = pipeline.Web.urlCanonical(
      Seq((1, "not a url"), (2, "relative/path"), (3, null))
        .toDF("id", "url"), "id", "url").collect()
    r.foreach(row => assert(row.isNullAt(1) && row.isNullAt(2) && row.isNullAt(3),
      row.toString))
  }

  test("urlCanonical url_key collides http/https/www variants of one page") {
    val ks = Seq("http://www.ex.com/p?a=1", "https://ex.com/p/?a=1&utm_s=x",
      "HTTP://EX.COM:80/p?a=1").map(u => canon(u)._3)
    assert(ks.distinct == Seq("ex.com/p?a=1"), ks.toString)
  }

  test("extractLinks finds double/single-quoted hrefs case-insensitively") {
    val rows = Seq(
      (1, "<a href=\"http://a.com/x\">1</a><A HREF='B.com/y'>2</A>" +
        "<a href=\"\">empty</a><link href=\"/css\">"),
      (2, "no links here")).toDF("id", "html")
    val got = pipeline.Web.extractLinks(rows, "id", "html").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    // empty href drops; relative, schemeless and absolute all surface raw
    assert(got == Set((1, "http://a.com/x"), (1, "B.com/y"), (1, "/css")),
      got.toString)
  }

  test("linkGraph: absolute by host key, site-relative to source, rest drop") {
    val rows = Seq(
      (1, "http://WWW.Src.com/p",
        "<a href=\"https://A.com:443/x\">1</a>" +       // absolute -> a.com
          "<a href=\"/self\">2</a>" +                   // relative -> src.com
          "<a href=\"//cdn.com/x\">3</a>" +             // protocol-relative: no scheme -> drop
          "<a href=\"#frag\">4</a>" +                   // fragment -> drop
          "<a href=\"/self2\">5</a>"),
      (2, "not a url", "<a href=\"http://a.com/\">x</a>")) // null src -> drop
      .toDF("id", "url", "html")
    val got = pipeline.Web.linkGraph(rows, "id", "url", "html").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("src.com", "a.com") -> 1L, ("src.com", "src.com") -> 2L),
      got.toString)
  }

  test("hostStats: per-host rows, distinct pages, dup ratio; non-URLs drop") {
    val rows = Seq(
      (1, "http://a.com/x?utm_s=1"), (2, "https://WWW.A.com/x"),
      (3, "http://a.com/y"), (4, "http://b.org/"), (5, "nope"))
      .toDF("id", "url")
    val got = pipeline.Web.hostStats(rows, "id", "url").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // a.com: 3 rows, 2 canonical pages (the www/https/utm variants of /x
    // collide on url_key), dup ratio 1 - 2/3
    assert(got == Map("a.com" -> ((3L, 2L, 0.3333)),
      "b.org" -> ((1L, 1L, 0.0))), got.toString)
  }

  test("extractLinks cap keeps first n non-empty links and counts the rest") {
    val rows = Seq(
      (1, "<a href=\"u1\">a</a><a href=''>e</a><a href='u2'>b</a>" +
        "<a href=\"u3\">c</a>"),
      (2, "<a href=\"only\">x</a>"),
      (3, "no links here")).toDF("id", "html")
    // NOTE: double-quoted matches extract before single-quoted ones, so
    // document order within each quote style — u1, u3 then u2
    val capped = pipeline.Web.extractLinks(rows, "id", "html",
      maxLinksPerPage = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(capped.toSet == Set((1, "u1", 1L), (1, "u3", 1L), (2, "only", 0L)),
      capped.mkString(", "))
    // uncapped output is the original (id, link) shape — no new column
    assert(pipeline.Web.extractLinks(rows, "id", "html")
      .columns.toSeq == Seq("id", "link"))
    intercept[IllegalArgumentException] {
      pipeline.Web.extractLinks(rows, "id", "html", maxLinksPerPage = -1)
    }
  }

  test("linkGraph cap bounds the per-page fan-out before aggregation") {
    val rows = Seq((1, "http://s.com/p",
      "<a href=\"http://a.com/1\">1</a><a href=\"http://b.com/2\">2</a>" +
        "<a href=\"http://c.com/3\">3</a>")).toDF("id", "url", "html")
    val capped = pipeline.Web.linkGraph(rows, "id", "url", "html",
      maxLinksPerPage = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(capped == Map(("s.com", "a.com") -> 1L, ("s.com", "b.com") -> 1L),
      capped.toString)
  }
}
