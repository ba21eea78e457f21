package graft.search

import graft.analysis.{Analyzer, StopSets}

/** Flexible StandardQueryParser (reference queryparser/flexible/standard/
  * StandardQueryParser.java:70: StandardSyntaxParser +
  * StandardQueryNodeProcessorPipeline + StandardQueryTreeBuilder),
  * lowered directly to the classic Query AST the scorers already run.
  *
  * Grammar (StandardSyntaxParser.jj:179-182):
  * {{{
  *     Query  ::= DisjQuery ( DisjQuery )*
  * DisjQuery  ::= ConjQuery ( OR ConjQuery )*
  * ConjQuery  ::= ModClause ( AND ModClause )*
  *  ModClause ::= [ + | - | ! | NOT ] Clause
  *     Clause ::= '(' Query ')' [^boost] | leaf
  * }}}
  * i.e. unlike the CLASSIC parser's flat left-to-right resolution, AND
  * binds tighter than OR, and parenthesized groups NEST (the classic
  * parser in this repo flattens; TestQPHelper's `c OR (a AND b)` ==
  * `c (+a +b)` shape is preserved here).
  *
  * Processor-pipeline semantics reproduced
  * (flexible/standard/processors/):
  *  - BooleanQuery2ModifierNodeProcessor: in a multi-clause ConjQuery
  *    every non-NOT child is MUST; at DisjQuery/top level `+` is MUST,
  *    NOT is MUST_NOT, bare is SHOULD (default operator OR).
  *  - BooleanSingleChildOptimizationQueryNodeProcessor: single-child
  *    groups collapse — `(term)^2.0` == `term^2.0`.
  *  - PhraseSlopQueryNodeProcessor + single-term phrase: `"term"~2` is
  *    just `term`; an all-stopword phrase drops.
  *  - FuzzyQueryNodeProcessor: a float similarity < 1 maps to edits
  *    floor((1-sim)*length) (FuzzyQuery.floatToEdits) — `term~0.7` has
  *    maxEdits 1.
  *  - TermRangeQueryNodeProcessor: `[a TO b]` / `{a TO b}` closed/open
  *    term ranges (either bracket kind on either end); `*` is an open
  *    bound.
  *  - OpenRangeQueryNodeProcessor: relationals — `f=v` is a term in
  *    field f; `f<v` `f<=v` `f>v` `f>=v` are half-open term ranges.
  *    Fields lower to this engine's model: `path` keeps its keyed term
  *    space, anything else is the default content field.
  */
object StandardParser {

  private sealed trait Mod
  private case object MNone extends Mod
  private case object MReq extends Mod
  private case object MNot extends Mod
  private final case class Node(q: Query, mod: Mod)

  /** Sorts above every indexed term — the open upper bound. */
  private final val MaxTerm = "￿￿￿￿"

  def parse(input: String, lang: String = "en"): BoolQ = {
    val p = new P(input, StopSets.forLang(lang))
    val nodes = p.query()
    p.skipWs()
    require(p.eof, s"trailing input at ${p.pos}: $input")
    nodes match {
      // a single structural bool (one disj/conj chain) IS the query —
      // wrapping it again would add a nesting level the reference's
      // tree builder doesn't produce
      case Seq(Node(b: BoolQ, MNone)) => b
      case Seq(Node(q, m)) => BoolQ(Seq((occurOf(m, conj = false), q)))
      case ns => toBool(ns, conj = false)
    }
  }

  private def occurOf(m: Mod, conj: Boolean): Occur = m match {
    case MNot => Occur.MustNot
    case MReq => Occur.Must
    case MNone => if (conj) Occur.Must else Occur.Should
  }

  private def toBool(ns: Seq[Node], conj: Boolean): BoolQ =
    BoolQ(ns.map(n => (occurOf(n.mod, conj), n.q)))

  private final class P(s: String, stop: Set[String]) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit = while (!eof && s(pos).isWhitespace) pos += 1

    /** Operator test: word operators (AND/OR/NOT) need a boundary
      * (whitespace, paren, or end) so ORbit stays a term; symbol
      * operators (&&, ||) may abut anything. */
    private def consumeOp(op: String): Boolean = {
      skipWs()
      val end = pos + op.length
      val ok = s.startsWith(op, pos) && (!op.head.isLetter ||
        end >= s.length || s(end).isWhitespace ||
        s(end) == '(' || s(end) == ')')
      if (ok) pos = end
      ok
    }

    def query(): Seq[Node] = {
      val out = Seq.newBuilder[Node]
      skipWs()
      while (!eof && s(pos) != ')') {
        disj().foreach(out += _)
        skipWs()
      }
      out.result()
    }

    private def disj(): Option[Node] = {
      var parts = List.empty[Node]
      conj().foreach(parts ::= _)
      var more = true
      while (more && (consumeOp("OR") || consumeOp("||"))) {
        conj() match {
          case Some(n) => parts ::= n
          case None => more = false
        }
      }
      parts match {
        case Nil => None
        case one :: Nil => Some(one)
        case many => Some(Node(toBool(many.reverse, conj = false), MNone))
      }
    }

    private def conj(): Option[Node] = {
      var parts = List.empty[Node]
      modClause().foreach(parts ::= _)
      var more = true
      while (more && (consumeOp("AND") || consumeOp("&&"))) {
        modClause() match {
          case Some(n) => parts ::= n
          case None => more = false
        }
      }
      parts match {
        case Nil => None
        case one :: Nil => Some(one)
        case many => Some(Node(toBool(many.reverse, conj = true), MNone))
      }
    }

    private def modClause(): Option[Node] = {
      skipWs()
      if (eof || s(pos) == ')') return None
      var mod: Mod = MNone
      if (consumeOp("NOT")) { mod = MNot; skipWs() }
      else if (s(pos) == '!') { mod = MNot; pos += 1; skipWs() }
      else if (s(pos) == '+') { mod = MReq; pos += 1 }
      else if (s(pos) == '-') { mod = MNot; pos += 1 }
      clause().map(Node(_, mod))
    }

    private def clause(): Option[Query] = {
      skipWs()
      if (eof) return None
      if (s(pos) == '(') {
        pos += 1
        val inner = query()
        skipWs()
        require(!eof && s(pos) == ')', s"expected ) at $pos: $s")
        pos += 1
        val boost = tryBoost()
        val q = inner match {
          case Seq() => return None
          // single-child optimization: the group vanishes, its child's
          // modifier survives as a single-clause bool only for NOT
          case Seq(Node(q1, MNot)) => BoolQ(Seq((Occur.MustNot, q1)))
          case Seq(Node(q1, _)) => q1
          case many => toBool(many, conj = false)
        }
        Some(boost.map(BoostQ(q, _)).getOrElse(q))
      } else leaf()
    }

    private def tryBoost(): Option[Float] =
      if (!eof && s(pos) == '^') {
        val st = pos + 1
        var e = st
        while (e < s.length && !s(e).isWhitespace && s(e) != ')') e += 1
        s.substring(st, e).toFloatOption.map { f => pos = e; f }
      } else None

    /** One leaf token: phrase / range / regexp tokens may contain
      * whitespace, everything else runs to the next delimiter. The raw
      * token then lowers through the classic clause lowering (which
      * already handles phrases, slop, boosts, prefix/wildcard, fielded
      * path terms) with the standard pipeline's extras applied first. */
    private def leaf(): Option[Query] = {
      val start = pos
      s(pos) match {
        case '"' =>
          val close = s.indexOf('"', pos + 1)
          pos = if (close < 0) s.length else close + 1
          suffix()
        case '[' | '{' =>
          while (!eof && s(pos) != ']' && s(pos) != '}') pos += 1
          if (!eof) pos += 1
          suffix()
        case '/' =>
          val close = s.indexOf('/', pos + 1)
          pos = if (close < 0) s.length else close + 1
          suffix()
        case _ =>
          while (!eof && !s(pos).isWhitespace && s(pos) != '(' &&
            s(pos) != ')') pos += 1
          // field:[lo TO hi] would split into the garbage terms
          // "field:[lo", "TO", "hi]" — ranges are field-less only
          val colon = s.indexOf(':', start)
          if (colon > start && colon + 1 < pos && "[{".contains(s(colon + 1)))
            throw new IllegalArgumentException("fielded range queries " +
              s"are not supported: ${s.substring(start, pos)}")
      }
      lowerLeaf(s.substring(start, pos))
    }

    private def suffix(): Unit =
      while (!eof && !s(pos).isWhitespace && s(pos) != ')' && s(pos) != '(')
        pos += 1

    private val Relational =
      "^([A-Za-z_][A-Za-z0-9_.]*)(<=|>=|=|<|>)([^<>=].*)$".r

    private def lowerLeaf(tok0: String): Option[Query] = {
      if (tok0.isEmpty) return None
      // ^boost can trail any leaf kind
      val caretAt = tok0.lastIndexOf('^')
      val boost: Option[Float] =
        if (caretAt > 0) tok0.substring(caretAt + 1).toFloatOption else None
      val tok = if (boost.isDefined) tok0.substring(0, caretAt) else tok0
      def boosted(q: Query): Query =
        boost.filter(_ != 1f).map(BoostQ(q, _)).getOrElse(q)
      def fieldTerm(field: String, v: String): String =
        if (field == "path") "path:" + v.toLowerCase(java.util.Locale.ROOT)
        else Analyzer.lowerCase(v)
      // [a TO b] / {a TO b}; either bracket kind on either end; * open
      if (tok.length > 1 && (tok.head == '[' || tok.head == '{') &&
          (tok.last == ']' || tok.last == '}')) {
        val incLo = tok.head == '['
        val incHi = tok.last == ']'
        val body = tok.substring(1, tok.length - 1).trim
        val m = body.split("\\s+TO\\s+")
        require(m.length == 2, s"range needs 'lo TO hi': $tok0")
        val lo = if (m(0) == "*") "" else Analyzer.lowerCase(m(0))
        val hi = if (m(1) == "*") MaxTerm else Analyzer.lowerCase(m(1))
        return Some(boosted(RangeQ(lo, hi, incLo, incHi)))
      }
      // relationals (OpenRangeQueryNodeProcessor). Open bounds stay
      // INSIDE the field's term space: the path field's keyed prefix
      // bounds its open ends ("path:" / "path:"+MaxTerm); content open
      // ends rely on the scorer's fieldGuard path:/rev: exclusion.
      tok match {
        case Relational(f, op, v) if !tok.startsWith("\"") =>
          val t = fieldTerm(f, v)
          val (openLo, openHi) =
            if (f == "path") ("path:", "path:" + MaxTerm)
            else ("", MaxTerm)
          return Some(boosted(op match {
            case "=" => TermQ(t)
            case "<" => RangeQ(openLo, t, incLo = true, incHi = false)
            case "<=" => RangeQ(openLo, t, incLo = true, incHi = true)
            case ">" => RangeQ(t, openHi, incLo = false, incHi = true)
            case ">=" => RangeQ(t, openHi, incLo = true, incHi = true)
          }))
        case _ =>
      }
      // float fuzzy similarity: term~0.7 -> floatToEdits
      val tildeAt = tok.lastIndexOf('~')
      if (tildeAt > 0 && tildeAt < tok.length - 1 && !tok.startsWith("\"")) {
        val simTxt = tok.substring(tildeAt + 1)
        simTxt.toFloatOption match {
          case Some(sim) if sim < 1f && simTxt.contains('.') =>
            val term = Analyzer.lowerCase(tok.substring(0, tildeAt))
            // FuzzyQuery.floatToEdits(sim, len)
            val edits = math.min(
              math.floor((1.0 - sim) * term.codePointCount(0, term.length)),
              2.0).toInt
            return Some(boosted(FuzzyQ(term, edits)))
          case _ =>
        }
      }
      QueryParser.lowerClause(tok, stop).map {
        // single-term phrases lose their phrase-ness (and any slop)
        case PhraseQ(Seq(t), _) => boosted(TermQ(t))
        case SloppyPhraseQ(Seq(t), _, _) => boosted(TermQ(t))
        case BoostQ(PhraseQ(Seq(t), _), b) => boosted(BoostQ(TermQ(t), b))
        case BoostQ(SloppyPhraseQ(Seq(t), _, _), b) =>
          boosted(BoostQ(TermQ(t), b))
        case q => boosted(q)
      }
    }
  }
}
