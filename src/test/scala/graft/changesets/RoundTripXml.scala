package graft.changesets

import java.sql.Timestamp

import org.scalacheck.{Arbitrary, Gen}

/** Shared random-changeset corpus generator + XML renderer for the
  * round-trip and differential (scanner vs StAX oracle) suites.
  *
  * The rendering varies the well-formed XML around the values under
  * test: non-comment tags
  * (and tag sets with no comment), an overridden earlier comment tag,
  * `<discussion>` blocks (with CDATA text and a nested decoy comment
  * tag), XML comments in bodies, comments and processing instructions
  * between changesets (some holding decoy markup), single-quoted
  * attributes, numeric character references, attributes split over
  * lines, CRLF line endings and a UTF-8 BOM.
  */
object RoundTripXml {

  /** A rendered document and the rows it must convert to. */
  final case class Doc(changesets: Seq[Changeset], xml: String)

  private val genUser: Gen[Option[String]] = Gen.option(Gen.oneOf(
    "alice", "bob w space", "go\u00dfmann", "quote\"user", "it's", "a&b<c>", "\u65e5\u672c\u8a9e"))

  private val genTs: Gen[Option[Timestamp]] = Gen.option(
    Gen.choose(946684800000L, 1893456000000L).map(new Timestamp(_))) // 2000..2030

  private val genChangeset: Gen[Changeset] = for {
    id <- Gen.choose(1L, Long.MaxValue / 2)
    created <- genTs
    closed <- genTs
    open <- Arbitrary.arbitrary[Boolean]
    user <- genUser
    uid <- Gen.option(Gen.choose(0L, Int.MaxValue.toLong))
    minLat <- Gen.option(Gen.choose(-90.0, 90.0))
    minLon <- Gen.option(Gen.choose(-180.0, 180.0))
    maxLat <- Gen.option(Gen.choose(-90.0, 90.0))
    maxLon <- Gen.option(Gen.choose(-180.0, 180.0))
    numChanges <- Gen.choose(0L, 4294967295L) // u32 range
    comments <- Gen.choose(0L, 1000L)
    desc <- Gen.option(Gen.oneOf(
      "simple", "with & entity", "with <angle> brackets", "unicode \u2713 \u00e9dit", "",
      "single ' and double \" quotes"))
  } yield Changeset(id, created, closed, open, user, uid,
    minLat, minLon, maxLat, maxLon, numChanges, comments, desc)

  /** Batch with ids rewritten to be unique (stable sort-and-compare). */
  private val genChangesets: Gen[Seq[Changeset]] =
    Gen.listOfN(8, genChangeset).map(_.zipWithIndex.map {
      case (c, idx) => c.copy(id = idx + 1L)
    })

  /** Attribute-value escape: named entity references, or with `ncr`
    * numeric character references for markup characters and non-ASCII.
    */
  private def esc(s: String, ncr: Boolean = false): String = {
    val sb = new java.lang.StringBuilder
    s.codePoints.forEach { c =>
      if (c == '&') sb.append(if (ncr) "&#38;" else "&amp;")
      else if (c == '<') sb.append(if (ncr) "&#x3C;" else "&lt;")
      else if (c == '>') sb.append("&gt;")
      else if (c == '"') sb.append(if (ncr) "&#34;" else "&quot;")
      else if (c == '\'') sb.append("&apos;")
      else if (ncr && c > 127) sb.append(if (c % 2 == 0) s"&#$c;" else s"&#x${Integer.toHexString(c)};")
      else sb.appendCodePoint(c)
    }
    sb.toString
  }

  private def fmtTs(t: Timestamp): String =
    java.time.Instant.ofEpochMilli(t.getTime).toString

  private def sequence[T](gs: Seq[Gen[T]]): Gen[List[T]] =
    gs.foldRight(Gen.const(List.empty[T])) { (g, acc) =>
      for { h <- g; t <- acc } yield h :: t
    }

  private def attr(name: String, value: String): Gen[String] = for {
    single <- Gen.prob(0.25)
    ncr <- Gen.prob(0.25)
  } yield if (single) s"$name='${esc(value, ncr)}'" else s"""$name="${esc(value, ncr)}""""

  private def tag(k: String, v: String): Gen[String] = for {
    ka <- attr("k", k)
    va <- attr("v", v)
    openForm <- Gen.prob(0.1)
  } yield if (openForm) s"<tag $ka $va></tag>" else s"<tag $ka $va/>"

  private val genOtherTag: Gen[String] = for {
    k <- Gen.oneOf("created_by", "source", "imagery_used", "hashtags", "locale")
    v <- Gen.oneOf("JOSM/1.5", "iD 2.27.3", "survey;Bing", "#maproulette", "it's <ok> & \"fine\"")
    t <- tag(k, v)
  } yield t

  /** Only direct-child `<tag>`s count: the decoy under `<comment>` and
    * any markup inside the CDATA text must not become the description.
    */
  private val genDiscussion: Gen[String] = for {
    text <- Gen.oneOf("nice!", "see &lt;here&gt; &amp; there", "",
      """<![CDATA[raw <b>text</b> & <tag k="comment" v="decoy"/>]]>""")
    decoy <- Gen.prob(0.3)
  } yield {
    val nested = if (decoy) """<tag k="comment" v="decoy"/>""" else ""
    "<discussion>\n    <comment id=\"7\" date=\"2024-03-02T00:00:00Z\" uid=\"9\" user=\"eve\">" +
      s"$nested<text>$text</text></comment>\n  </discussion>"
  }

  private val genXmlComment: Gen[String] =
    Gen.oneOf("<!-- note -->", """<!-- <tag k="comment" v="decoy"/> -->""", "<!---->")

  private val genBodyItems: Gen[List[String]] = Gen.choose(0, 2).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(3 -> genOtherTag, 1 -> genDiscussion, 1 -> genXmlComment)))

  private def genElement(c: Changeset): Gen[String] = {
    val pairs = Seq(
      Some("id" -> c.id.toString),
      c.created_at.map(t => "created_at" -> fmtTs(t)),
      c.closed_at.map(t => "closed_at" -> fmtTs(t)),
      Some("open" -> c.open.toString),
      c.user.map("user" -> _),
      c.uid.map("uid" -> _.toString),
      c.min_lat.map("min_lat" -> _.toString),
      c.min_lon.map("min_lon" -> _.toString),
      c.max_lat.map("max_lat" -> _.toString),
      c.max_lon.map("max_lon" -> _.toString),
      Some("num_changes" -> c.num_changes.toString),
      Some("comments_count" -> c.comments_count.toString)).flatten
    for {
      attrs <- sequence(pairs.map { case (n, v) => attr(n, v) })
      sep <- Gen.frequency(4 -> " ", 1 -> "\n    ")
      pre <- genBodyItems
      overridden <- Gen.prob(0.15)
      earlier <- tag("comment", "overridden")
      comment <- c.description.fold(Gen.const(List.empty[String]))(d => tag("comment", d).map(List(_)))
      post <- genBodyItems
      emptyOpen <- Gen.prob(0.1)
    } yield {
      val body = pre ++ (if (overridden && comment.nonEmpty) List(earlier) else Nil) ++ comment ++ post
      val start = s"<changeset ${attrs.mkString(sep)}"
      if (body.isEmpty && !emptyOpen) s"$start/>"
      else s"$start>\n${body.map("  " + _ + "\n").mkString}</changeset>"
    }
  }

  val genDoc: Gen[Doc] = for {
    cs <- genChangesets
    elems <- sequence(cs.map(genElement))
    between <- Gen.listOfN(cs.size, Gen.frequency(
      6 -> "", 1 -> "<bound box=\"-90,-180,90,180\" origin=\"a>b\"/>\n",
      // decoys no reader may turn into rows
      1 -> "<!-- hourly diff <changeset id=\"98\"/> -->\n", 1 -> "<?pi <changeset id=\"99\"/> ?>\n"))
    crlf <- Gen.prob(0.25)
    bom <- Gen.prob(0.2)
  } yield {
    val items = elems.zip(between).map { case (e, b) => b + e }
    val xml = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n" +
      items.mkString("\n") + "\n</osm>\n"
    Doc(cs, (if (bom) "\uFEFF" else "") + (if (crlf) xml.replace("\n", "\r\n") else xml))
  }
}
