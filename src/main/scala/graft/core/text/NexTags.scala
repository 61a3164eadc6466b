package graft.core.text

/** The NexAU tag scanner the converter, the dialect rewriter and the
  * quality gate share, written with `indexOf`: `blocks` yields exactly the
  * matches of `(?s)<tag>(.*?)</tag>`, and `firstText` exactly the first
  * match of `<tag>\s*([^<]+)\s*</tag>` with its group trimmed. */
object NexTags {

  /** The NexAU call blocks, in closing-tag restoration order. */
  val BlockTags: Seq[String] = Seq("tool_use", "sub-agent", "parallel_tool",
    "parallel_agent", "use_parallel_tool_calls", "use_parallel_sub_agents",
    "use_batch_agent")

  /** `<tag>body</tag>` from `start` (the opener) to `end` (past the closer). */
  final case class Block(start: Int, end: Int, body: String)

  /** Leftmost opener, body up to the first closer after it, resume after
    * that closer; stop at the first opener with no closer. */
  private def scan(s: String, tag: String): Iterator[Block] = {
    val open = s"<$tag>"
    val close = s"</$tag>"
    Iterator.unfold(0) { from =>
      val i = s.indexOf(open, from)
      val j = if (i < 0) -1 else s.indexOf(close, i + open.length)
      Option.when(j >= 0) {
        val blk = Block(i, j + close.length, s.substring(i + open.length, j))
        (blk, blk.end)
      }
    }
  }

  def blocks(s: String, tag: String): Vector[Block] = scan(s, tag).toVector

  def first(s: String, tag: String): Option[String] = scan(s, tag).nextOption().map(_.body)

  /** Replace each block whose body `f` maps to `Some`; `None` keeps it. */
  def rewrite(s: String, tag: String)(f: String => Option[String]): String = {
    val out = new java.lang.StringBuilder(s.length)
    var last = 0
    scan(s, tag).foreach(blk => f(blk.body).foreach { rep =>
      out.append(s, last, blk.start).append(rep)
      last = blk.end
    })
    if (last == 0) s else out.append(s, last, s.length).toString
  }

  /** The first opener whose text up to the next `<` is non-empty and is
    * followed by the closer: that text, trimmed. */
  def firstText(s: String, tag: String): Option[String] = {
    val open = s"<$tag>"
    var i = s.indexOf(open)
    while (i >= 0) {
      val b = i + open.length
      val j = s.indexOf('<', b)
      if (j < 0) return None
      if (j > b && s.startsWith(s"</$tag>", j)) return Some(s.substring(b, j).trim)
      i = s.indexOf(open, j)
    }
    None
  }
}
