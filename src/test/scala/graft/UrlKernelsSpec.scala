package graft

import org.apache.spark.sql.functions._
import graft.operators.UrlOps

/** Parity for the native URL kernels
  * ([[graft.functions.UrlKernels.canonicalize]] /
  * [[graft.functions.UrlKernels.resolve]] /
  * [[graft.functions.RobotsMatcher.allowed]]): every output must be
  * byte-identical to the original column formulations — the shapes the
  * DuckDB oracles replay. Edge fixtures pin the parse corners (empty
  * authority, userinfo case, default ports, tracking params, fragment
  * interplay, the Java-regex `$`-before-final-newline quirk); the fuzz
  * loops sweep a hostile URL alphabet where off-by-one scan bugs live. */
class UrlKernelsSpec extends SparkSpec {
  import spark.implicits._

  private def checkCanonical(urls: Seq[String]): Unit = {
    val rows = urls.toDF("url")
      .select(col("url"), UrlOps.canonicalizeUrl(col("url")).as("k"),
        ReferenceForms.canonicalizeUrlColumnForm(col("url")).as("r"))
      .collect()
    rows.foreach { row =>
      assert(row.getString(1) === row.getString(2),
        s"canonicalize mismatch for <${row.getString(0)}>")
    }
  }

  private def checkResolve(pairs: Seq[(String, String)]): Unit = {
    val rows = pairs.toDF("base", "href")
      .select(col("base"), col("href"),
        UrlOps.resolveUrl(col("base"), col("href")).as("k"),
        ReferenceForms.resolveUrlColumnForm(col("base"), col("href")).as("r"))
      .collect()
    rows.foreach { row =>
      assert(row.getString(2) === row.getString(3),
        s"resolve mismatch for base=<${row.getString(0)}> href=<${row.getString(1)}>")
    }
  }

  test("canonicalize edge fixtures") {
    checkCanonical(Seq(
      "http://Example.COM/path", "https://h:443/", "http://h:80", "http://h:81",
      "HTTPS://H:443/A/B/", "http://h", "http://h/", "http://h//", "http://h/a/",
      "http://h/a//", "http://", "http:///path", "http:///path?a=1",
      "http://User@Host/p", "http://a@b@Host/p", "http://u:P@H:80/x",
      "http://h/p?b=2&a=1", "http://h/p?a=1&a=1", "http://h/p?", "http://h/p?&&",
      "http://h/p?utm_source=x&q=1", "http://h/p?utm_=1&utm_a=b=c&fbclid&gclid=z",
      "http://h/p?fbclidX=1&UTM_source=2", "http://h/p#frag", "http://h#f?x=1",
      "http://h/p?a=1#f&b=2", "not a url", "relative/path", "//proto-relative",
      "ftp://h:80/x", "a+b-c.9://Mixed.Host:443/", "1http://h/x", "",
      "http://h/p?a%20b=1&A=2", "mailto:user@h", "http://h/p/?q=1",
      "http://h/%7Euser/", "http://h/a?x=π&y=ä", "http://h/p?=v&x",
      "http://h:8080/a/", "https://h:80/x", "http://h:443/x"))
  }

  test("canonicalize line-terminator quirks match the Java-regex form") {
    checkCanonical(Seq(
      "http://h/a/\n", "http://h/a/\r\n", "http://h/a/\u2028",
      "http://h/\n/", "http://h/p?fbclid\n&a=1", "http://h/p?utm_x=1\r\n&b=2",
      "http://h/a\n/b/", "http://h/p?a=1\n",
      // the review counterexamples: ports stripped via `$`-before-
      // final-terminator; fragments NOT stripped when an interior
      // newline blocks `#.*$`; the terminator surviving a stripped
      // fragment; double-terminator params staying (rlike rejects)
      "http://h:80\n", "https://H:443\r\n/x", "http://h/p#x\ny?b=2",
      "http://h/p#x\n", "http://h/p?gclid\n\n&a=1", "http://h/p?gclid\n",
      "http://h/p#a#b\nc", "http://h#f\n?q=1", "http://h:80\n/p/"))
  }

  test("resolve edge fixtures") {
    val bases = Seq("http://h/a/b?q=1#f", "http://h/a/", "http://h", "http://h/",
      "https://h:8443/x/y/z", "mailto:u@h", "not a url", "", "1a://h/p",
      "http://h/noslashpath", "http:///x")
    val hrefs = Seq("http://other/x", "HTTPS://o/", "//cdn.h/x", "/abs/path",
      "", "#top", "?page=2", "rel/path", "sub", "../up", "./same",
      "mailto:x@y", "javascript:void(0)", "tel:+1-555", "data:text/plain,x",
      "a:b", "?", "#", "//", "/")
    checkResolve(for { b <- bases; h <- hrefs } yield (b, h))
  }

  test("resolve null algebra matches the when-chain form") {
    val df = Seq[(Option[String], Option[String])](
      (None, Some("http://x/y")), (None, Some("/p")), (None, Some("")),
      (None, Some("#f")), (None, Some("rel")), (Some("http://h/p"), None),
      (None, None), (Some("http://h/p"), Some("rel")))
      .toDF("base", "href")
    val rows = df.select(
        UrlOps.resolveUrl(col("base"), col("href")).as("k"),
        ReferenceForms.resolveUrlColumnForm(col("base"), col("href")).as("r"),
        col("base"), col("href"))
      .collect()
    rows.foreach { row =>
      val k = if (row.isNullAt(0)) null else row.getString(0)
      val r = if (row.isNullAt(1)) null else row.getString(1)
      assert(k === r, s"null-algebra mismatch for base=${row.get(2)} href=${row.get(3)}")
    }
  }

  test("fuzz: 600 random URLs canonicalize identically") {
    val rnd = new scala.util.Random(42)
    val frags = Array("http://", "https://", "HTTP://", "ftp://", "h", "Host.COM",
      ":80", ":443", ":8080", "@", "user@", "/", "/a", "/b/", "?", "a=1", "&",
      "utm_source=x", "utm_", "fbclid", "gclid=1", "#", "frag", "%20", ".",
      "π", "\n", "\r\n", "\u2028", "\r", " ", "", "x", "B", "9", "-", "_", "=", ":")
    val urls = (1 to 600).map { _ =>
      val n = rnd.nextInt(12)
      (0 until n).map(_ => frags(rnd.nextInt(frags.length))).mkString
    }
    checkCanonical(urls)
  }

  test("fuzz: 600 random (base, href) pairs resolve identically") {
    val rnd = new scala.util.Random(4242)
    val baseFrags = Array("http://", "https://", "h", "host", ":81", "/", "/a",
      "/b/c", "?q=1", "#f", "@u", "x", ".", "\n")
    val hrefFrags = Array("http://o/x", "//o", "/p", "", "#t", "?k=2", "rel",
      "../u", "a:b", "x", "/", ".", ":")
    val pairs = (1 to 600).map { _ =>
      val b = (0 until rnd.nextInt(8)).map(_ => baseFrags(rnd.nextInt(baseFrags.length))).mkString
      val h = (0 until rnd.nextInt(4)).map(_ => hrefFrags(rnd.nextInt(hrefFrags.length))).mkString
      (b, h)
    }
    checkResolve(pairs)
  }

  test("urlHost: fixtures and fuzz match the regexp form") {
    def check(urls: Seq[String]): Unit = {
      val rows = urls.toDF("url")
        .select(col("url"), UrlOps.urlHost(col("url")).as("k"),
          ReferenceForms.urlHostColumnForm(col("url")).as("r"))
        .collect()
      rows.foreach { row =>
        assert(row.getString(1) === row.getString(2),
          s"urlHost mismatch for <${row.getString(0)}>")
      }
    }
    check(Seq(
      "http://Example.COM/path", "https://h:8443/x", "http://user@Host/p",
      "http://user:pass@h:80/x", "http://user@:80", "http://a@b@host/x",
      "http://a@@host", "http://:80/x", "http://", "not a url", "",
      "ftp://H", "http://h?q=1", "http://h#f", "1http://h", "http:///x",
      "http://π.example/x", "http://h\n/x"))
    val rnd = new scala.util.Random(77)
    val frags = Array("http://", "h", "Host.COM", ":80", "@", "user@", "a:b",
      "/", "/x", "?", "#", ":", "", "\n", "π", "X")
    check((1 to 400).map(_ =>
      (0 until rnd.nextInt(9)).map(_ => frags(rnd.nextInt(frags.length))).mkString))
  }

  test("robots matcher: fixtures and fuzz match the when-chain form") {
    val ruleSets = Seq(
      UrlOps.RobotsRules(Seq((false, "/private/"), (true, "/private/ok"))),
      UrlOps.RobotsRules(Nil),
      UrlOps.RobotsRules(Seq((false, "/"))),
      UrlOps.RobotsRules(Seq((false, "/*.pdf$"), (true, "/docs/"), (false, "/docs/tmp/"))),
      UrlOps.RobotsRules(Seq((true, "/a"), (false, "/a"))), // allow wins the tie
      UrlOps.RobotsRules(Seq((false, "/a"), (true, "/a"))),
      UrlOps.RobotsRules(Seq((false, "/p*q"), (true, "/p"), (false, "/search$"))))
    val rnd = new scala.util.Random(7)
    val pathFrags = Array("/", "private", "ok", "docs", "tmp", "a", "p", "q",
      ".pdf", "search", "x", "")
    val paths = Seq("/", "/private/", "/private/ok/x", "/docs/a.pdf", "/a",
      "/search", "/search/x", "", "/pXXq", null) ++
      (1 to 200).map(_ => (0 until rnd.nextInt(6))
        .map(_ => pathFrags(rnd.nextInt(pathFrags.length))).mkString)
    val df = paths.toDF("path")
    ruleSets.zipWithIndex.foreach { case (rules, ri) =>
      val rows = df.select(col("path"),
          UrlOps.robotsAllowed(rules)(col("path")).as("k"),
          ReferenceForms.robotsAllowedWhenChain(rules)(col("path")).as("r"))
        .collect()
      rows.foreach { row =>
        assert(row.getBoolean(1) === row.getBoolean(2),
          s"robots mismatch (ruleset $ri) for path=<${row.get(0)}>")
      }
    }
  }

  test("kernels run inside whole-stage codegen (no fallback)") {
    // a local Seq would constant-fold into a LocalTableScan (the
    // interpreted eval path — covered by the parity tests above); a
    // range source forces the generated code path
    val df = spark.range(1)
      .select(concat(lit("http://H/a/?utm_x=1&b=2&id="), col("id")).as("u"),
        lit("rel").as("h"))
      .select(UrlOps.canonicalizeUrl(col("u")).as("c"),
        UrlOps.resolveUrl(col("u"), col("h")).as("r"),
        UrlOps.robotsAllowed(UrlOps.RobotsRules(Seq((false, "/a"))))(col("u")).as("a"))
    val row = df.collect().head
    assert(row.getString(0) === "http://h/a?b=2&id=0")
    assert(row.getString(1) === "http://H/a/rel")
    assert(row.getBoolean(2)) // path column here is a URL, no /a prefix
    val codegenSpans = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenSpans.nonEmpty, df.queryExecution.executedPlan.toString)
  }
}
