package graft

import graft.ops.UrlOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native URL normalization walk (`UrlNormExprs.urlNormHost`) vs
  * the regex chain it replaces (`RegexChains.urlNormalizeRegex`) — BOTH run
  * through Spark over one batch of adversarial URLs covering every
  * hostile dimension of the fixtures and the RFC edge cases: case,
  * userinfo with multiple '@', default and non-default ports, ports
  * with leading zeros, trailing host dots, percent escapes (unreserved
  * decode, uppercase canon, malformed), '+'-as-space, tracking params
  * (plain and percent-encoded key spellings), extraKill keys, param
  * sorting, empty params, fragments (incl. SPA '#/view?x'), bracketed
  * IPv6 quarantine, missing scheme/host, and the U+0002 sentinel.
  */
class UrlNormSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val urls: Seq[String] = Seq(
    "http://www.example.com/articles/1",
    "HTTP://WWW.Example.COM:80/a/",
    "https://h.example.com:443/x?b=2&a=1",
    "https://h.example.com:8443/x?b=2&a=1",
    "http://h.example.com:080/x",
    "http://crawler:p@w@host.example.com/a",
    "http://u@h.example.com./a//b///",
    "  http://spaced.example.com/x  ",
    "http://h/arti%63les/%7e%2f%2E%5a%gg%4",
    "http://h/x?t=x+y&z=a%2fb&a=%31",
    "http://h/x?utm_source=feed&utm_=1&utm=keep&fbclid=X&FBCLID=keep&b=2",
    "http://h/x?utm%5Fsource=enc&gclid=1&sid=9&ref=keep",
    "http://h/x?&&a=1&&",
    "http://h/x?a",
    "http://h/x?a=",
    "http://h/x?=v",
    "http://h/p#frag?not=query",
    "http://h#/view?sid=1",
    "http://h/x#a#b",
    "http://[::1]:8080/x",
    "http://:80/x",
    "http:///x",
    "not a url: plain text",
    "ftp://files.example.com:21/pub/",
    "a+b-c.d://weird.scheme.example/x",
    "http://h/x?z=1&y=2&x=3&w=4&a=%41",
    "http://h/\u0002x?a=\u00021",
    "http://MiXeD.CaSe.ExAmPlE.cOm./P%41th/?B=1&a=2",
    "https://h/deep/a/b/c/?utm_campaign=x&t=x+y&z=a%2Fb&sid=42",
    "",
    "   ",
    "://nohost",
    "1http://h/x",
    "http://h:notaport/x",
    "http://h:80x/x",
    "http://héllo.example.com/ü?ä=ö")

  test("native urlNormalize equals the regex chain on adversarial URLs") {
    val df = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("doc_id", "url")
    for (kill <- Seq(Nil, Seq("sid", "ref"))) {
      val a = UrlOps.urlNormalize(df, extraKill = kill)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val b = RegexChains.urlNormalizeRegex(df, extraKill = kill)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(a == b, s"extraKill=$kill:\n" +
        a.zip(b).filter(p => p._1 != p._2).map(p => s"native=${p._1}\n regex=${p._2}")
          .mkString("\n"))
    }
  }

  test("native resolveRef/hostOf equal the regex chains on a base × ref grid") {
    val bases = Seq(
      "http://a/b/c/d;p?q", // the RFC 3986 §5.4 base
      "https://h.example.com/x/y",
      "http://h.example.com",
      "http://h.example.com/",
      "relative-no-scheme", // → NULL
      "http://u@H.EXample.com.:8080/p/q?a=1#f")
    val refs = Seq(
      // §5.4 normal + abnormal examples
      "g", "./g", "g/", "/g", "//g", "?y", "g?y", "#s", "g#s", "g?y#s",
      ";x", "g;x", "g;x?y#s", "", ".", "./", "..", "../", "../g", "../..",
      "../../", "../../g", "../../../g", "../../../../g", "/./g", "/../g",
      "g.", ".g", "g..", "..g", "./../g", "./g/.", "g/./h", "g/../h",
      "g;x=1/./y", "g;x=1/../y", "g?y/./x", "g?y/../x", "g#s/./x", "g#s/../x",
      "http:g", "mailto:someone@example.com", "javascript:void(0)",
      "HTTPS://Other.Example/Z?b=1", "//cdn.example.net/lib.js",
      "a//b/c", "/a//b///", "?", "#", "?#", "x?y#z?w")
    val grid = for { (b, i) <- bases.zipWithIndex; (r, j) <- refs.zipWithIndex }
      yield (i.toLong * 1000 + j, b, r)
    val df = grid.toDF("rid", "base", "ref")
    val a = df.select(col("rid"), UrlOps.resolveRef(col("base"), col("ref")).as("l"),
        UrlOps.hostOf(col("base")).as("hb"),
        UrlOps.hostOf(UrlOps.resolveRef(col("base"), col("ref"))).as("hl"))
      .orderBy("rid").collect().map(_.toSeq).toSeq
    val b = df.select(col("rid"), RegexChains.resolveRefRegex(col("base"), col("ref")).as("l"),
        RegexChains.hostOfRegex(col("base")).as("hb"),
        RegexChains.hostOfRegex(RegexChains.resolveRefRegex(col("base"), col("ref"))).as("hl"))
      .orderBy("rid").collect().map(_.toSeq).toSeq
    assert(a == b, a.zip(b).filter(p => p._1 != p._2).take(5)
      .map(p => s"native=${p._1}\n regex=${p._2}").mkString("\n"))
  }

  test("native urlNormalize equals the regex chain on the generated fixture shapes") {
    // the urlFixture residue dimensions, swept densely over one range
    val df = spark.range(600).select(col("id").as("doc_id"),
      concat(lit("src"), (col("id") % 20).cast("string")).as("source"),
      lit("t").as("text"))
    val fx = graft.OpsEntries.urlFixture(df)
    val kill = Seq("sid")
    val a = UrlOps.urlNormalize(fx, extraKill = kill)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = RegexChains.urlNormalizeRegex(fx, extraKill = kill)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("CR/LF in a tracking-param VALUE: RE2/oracle semantics are canonical " +
    "(declared divergence from the java.util.regex chain)") {
    // trackingKilled's scaladoc (r14 advice): RE2 '.' stops at '\n'
    // ONLY — a value containing '\n' survives the kill (java '$' would
    // also match before a FINAL \n, killing it), while \r/U+0085/
    // U+2028/U+2029 do NOT protect a value (java '.' excludes them,
    // so the chain keeps those params). The native walk and the DuckDB
    // oracle agree; these fixtures pin the declared side.
    val df = Seq(
      (0L, "http://h/x?gclid=x\n&keep=1"),   // \n in value -> param KEPT
      (1L, "http://h/x?gclid=a\rb&keep=1"),  // \r in value -> param KILLED
      (2L, "http://h/x?gclid=a\u0085b"),     // NEL in value -> KILLED
      (3L, "http://h/x?utm_source=a\u2028b") // LS in value -> KILLED
    ).toDF("doc_id", "url")
    val got = UrlOps.urlNormalize(df)
      .orderBy("doc_id").select("url_norm").collect().map(_.getString(0)).toSeq
    assert(got(0).contains("gclid=x"), s"LF value must survive: ${got(0)}")
    assert(!got(1).contains("gclid"), s"CR value must be killed: ${got(1)}")
    assert(!got(2).contains("gclid"), s"NEL value must be killed: ${got(2)}")
    assert(!got(3).contains("utm_source"), s"LS value must be killed: ${got(3)}")
  }
}
