package graftbench

/** One `<record>` (or ListIdentifiers `<header>`) of a response. */
final case class Item(id: String, deleted: Boolean, hasMetadata: Boolean)

/** The parts of an OAI-PMH response the checks need, read with plain
  * string scans: a full XML parse of every page would cost the client
  * more than it costs the server to render it.
  */
final case class Reply(
    text: String,
    error: Option[String],
    items: Vector[Item],
    token: Option[String],
    completeListSize: Option[Long]) {
  def bytes: Long = Reply.utf8Length(text)
}

object Reply {

  def utf8Length(s: String): Long = {
    var n = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      n += (if (c < 0x80) 1 else if (c < 0x800) 2
            else if (Character.isHighSurrogate(c)) { i += 1; 4 } else 3)
      i += 1
    }
    n
  }

  private def textOf(s: String, open: String, close: String, from: Int): Option[String] = {
    val i = s.indexOf(open, from)
    if (i < 0) None
    else {
      val j = s.indexOf(close, i + open.length)
      if (j < 0) None else Some(s.substring(i + open.length, j))
    }
  }

  /** All texts of `<tag>…</tag>` in order. */
  def texts(s: String, tag: String): Vector[String] = {
    val open = s"<$tag>"
    val close = s"</$tag>"
    val out = Vector.newBuilder[String]
    var i = s.indexOf(open)
    while (i >= 0) {
      val j = s.indexOf(close, i)
      out += s.substring(i + open.length, j)
      i = s.indexOf(open, j)
    }
    out.result()
  }

  private def attr(tag: String, name: String): Option[String] = {
    val k = tag.indexOf(s""" $name="""")
    if (k < 0) None
    else {
      val v = k + name.length + 3
      Some(tag.substring(v, tag.indexOf('"', v)))
    }
  }

  def parse(text: String): Reply = {
    val error = {
      val i = text.indexOf("<error ")
      if (i < 0) None else attr(text.substring(i, text.indexOf('>', i)), "code")
    }
    val items = Vector.newBuilder[Item]
    var i = text.indexOf("<header")
    while (i >= 0) {
      val tagEnd = text.indexOf('>', i)
      val headerEnd = text.indexOf("</header>", tagEnd)
      val id = textOf(text, "<identifier>", "</identifier>", tagEnd).getOrElse("")
      val deleted = attr(text.substring(i, tagEnd), "status").contains("deleted")
      val next = text.indexOf("<header", headerEnd)
      val recordEnd = if (next < 0) text.length else next
      val hasMetadata = {
        val m = text.indexOf("<metadata>", headerEnd)
        m >= 0 && m < recordEnd
      }
      items += Item(id, deleted, hasMetadata)
      i = next
    }
    val (token, size) = {
      val t = text.indexOf("<resumptionToken")
      if (t < 0) (None, None)
      else {
        val tagEnd = text.indexOf('>', t)
        val tag = text.substring(t, tagEnd)
        val token =
          if (tag.endsWith("/")) None
          else textOf(text, ">", "</resumptionToken>", t).filter(_.nonEmpty)
        (token, attr(tag, "completeListSize").map(_.toLong))
      }
    }
    Reply(text, error, items.result(), token, size)
  }

  /** `name{labels} value` lines of a Prometheus exposition. */
  def gauges(exposition: String): Map[String, Long] =
    exposition.split("\n").iterator
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val k = l.lastIndexOf(' ')
        l.substring(0, k) -> l.substring(k + 1).toDouble.toLong
      }.toMap
}

/** Failed checks, counted against `ok_share`. */
final class Checks {
  private val failures = new java.util.concurrent.atomic.AtomicLong
  private val examples = new java.util.concurrent.ConcurrentLinkedQueue[String]

  def failed: Long = failures.get

  def firstFailures: Seq[String] = {
    import scala.jdk.CollectionConverters._
    examples.asScala.take(10).toSeq
  }

  /** Records a failure unless `ok`; returns `ok`. */
  def expect(ok: Boolean, what: => String): Boolean = {
    if (!ok) {
      failures.incrementAndGet()
      if (examples.size < 10) examples.add(what)
    }
    ok
  }

  /** A list page: its items are the next expected ids, each served
    * header-only exactly when the record is deleted.
    */
  def listPage(
      reply: Reply, expected: Vector[String], offset: Int, truth: Truth,
      headersOnly: Boolean, what: String): Boolean = {
    val ids = reply.items.map(_.id)
    expect(reply.error.isEmpty, s"$what: error ${reply.error}") &&
      expect(reply.completeListSize.forall(_ == expected.size.toLong) &&
        (reply.completeListSize.nonEmpty || ids.size == expected.size),
        s"$what: completeListSize ${reply.completeListSize} != ${expected.size}") &&
      expect(ids == expected.slice(offset, offset + ids.size) && ids.nonEmpty,
        s"$what: ids at offset $offset differ from the expected list") &&
      expect(reply.items.forall { it =>
        val del = truth.byId(it.id).deleted
        it.deleted == del && (headersOnly || it.hasMetadata == !del)
      }, s"$what: deleted records must be header-only, live ones carry metadata")
  }
}
