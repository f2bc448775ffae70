package graft.search

/** Classic query-string parser — the reference's QueryParser surface
  * (`lucene/queryparser/.../classic/QueryParserBase.java:106-118`,
  * grammar in QueryParser.jj) re-implemented as a small recursive-descent
  * parser over the subset the engine executes (single field, so the
  * `field:` prefix is accepted and ignored):
  *
  *   query    := clause+                       (implicit OR, like default OR operator)
  *   clause   := [+|-] boolean
  *   boolean  := part (('AND'|'OR'|'&&'|'||') part)*
  *   part     := group | phrase | range | term
  *   group    := '(' query ')' ['^' boost]
  *   phrase   := '"' words '"'
  *   range    := '[' term 'TO' term ']' | '{' term 'TO' term '}'
  *   term     := word ['*'] ['~' edits] ['^' boost]
  *
  * '+' = MUST, '-' = MUST_NOT (BooleanQuery occurs); trailing '*' =
  * PrefixQ; '~' = FuzzyQ; '^f' = BoostQ. Query-time analysis lowercases
  * terms via the simple analyzer (`QueryParserBase` runs the analyzer on
  * terms the same way).
  */
object QueryParser {

  final case class ParseError(msg: String, pos: Int)
    extends RuntimeException(s"$msg at $pos")

  /** Solr dismax/edismax end-user surface, single-field specialization
    * (`solr/core/src/java/org/apache/solr/search/DisMaxQParser.java:40-80`):
    * the user string is analyzed into terms — per-term dismax over fields
    * degenerates to the term itself with one field — combined as SHOULD
    * with minimum-match `mm` (Solr mm spec subset: "N", "-N", "P%",
    * "-P%"; `DisMaxQParser.parseMinShouldMatch` →
    * `SolrPluginUtils.setMinShouldMatch`). `tie` is accepted for API
    * parity; it only matters with >1 field.
    */
  def parseDisMax(input: String, mm: String = "1", tie: Float = 0f): Query = {
    val terms = graft.core.Analysis.simpleTokens(input)
    if (terms.isEmpty) throw ParseError("empty dismax query", 0)
    val msm = resolveMm(mm, terms.length)
    Query.rewrite(BoolQ(should = terms.toSeq.map(TermQ.apply),
      minShouldMatch = math.max(msm, 1)))
  }

  /** Solr mm spec subset: "3" = 3; "-2" = n-2; "75%" = floor(0.75n);
    * "-25%" = n - floor(0.25n) (SolrPluginUtils.calculateMinShouldMatch).
    */
  def resolveMm(mm: String, n: Int): Int = {
    val s = mm.trim
    val v =
      if (s.endsWith("%")) {
        val p = s.dropRight(1).toInt
        if (p < 0) n - (n * -p) / 100 else (n * p) / 100
      } else {
        val p = s.toInt
        if (p < 0) n + p else p
      }
    math.min(n, math.max(v, 0))
  }

  def parse(input: String): Query = {
    val p = new P(input)
    val q = p.parseQuery()
    p.skipWs()
    if (!p.eof) throw ParseError(s"unexpected '${p.rest}'", p.pos)
    Query.rewrite(q)
  }

  /** MaxScoreQParser (`solr/core/src/java/org/apache/solr/search/
    * MaxScoreQParser.java:56-95`, Solr's `{!maxscore tie=x}`): parse
    * with the classic parser, then regroup a top-level BooleanQuery's
    * SHOULD clauses under ONE DisjunctionMaxQuery(tie) SHOULD clause —
    * "only the clause with the max score will contribute" at tie 0 —
    * while required/prohibited clauses pass through unchanged and a
    * top-level boost is preserved around the rebuilt tree. The
    * reference's rebuilt BooleanQuery carries no
    * minimumNumberShouldMatch (the original mm is dropped — transcribed
    * as-is); non-boolean parses return untouched.
    */
  def parseMaxScore(input: String, tie: Float = 0f): Query = {
    def mk(q: Query): Query = q match {
      case BoostQ(inner, b) => BoostQ(mk(inner), b)
      case BoolQ(must, should, mustNot, filter, _) if should.nonEmpty =>
        BoolQ(must, Seq(DisMaxQ(should, tie)), mustNot, filter, 0)
      case other => other
    }
    Query.rewrite(mk(parse(input)))
  }

  /** ComplexPhraseQueryParser surface (`queryparser/complexPhrase/
    * ComplexPhraseQueryParser.java:91,254-352`): ONE quoted phrase whose
    * slots may be plain terms, wildcard/prefix/fuzzy terms, or `(a b)`
    * groups, with an optional `~slop` suffix. Slots compile to span
    * clauses (term → Span.Term, multi-term → Span.Multi, group →
    * Span.Or), the phrase to Span.Near(slop, inOrder). A single
    * plain-term phrase returns the TermQuery itself (the reference's
    * `contents instanceof TermQuery` short-circuit). `-slot` negatives
    * replay the mixed-sign law (:326-352): include = near(positives,
    * slop + numNegatives) — or the lone positive — exclude = near(ALL
    * slots, slop), result = SpanNot(include, exclude).
    */
  def parseComplexPhrase(input: String, inOrder: Boolean = true): Query = {
    val s = input.trim
    if (!s.startsWith("\"")) throw ParseError("complex phrase must be quoted", 0)
    val endQ = s.indexOf('"', 1)
    if (endQ < 0) throw ParseError("unterminated phrase", s.length)
    val body = s.substring(1, endQ)
    val tail = s.substring(endQ + 1).trim
    val slop =
      if (tail.isEmpty) 0
      else if (tail.startsWith("~")) tail.drop(1).toInt
      else throw ParseError(s"unexpected '$tail' after phrase", endQ + 1)

    def slotSpan(w: String): Span = {
      val hasStar = w.contains('*')
      val hasQm = w.contains('?')
      val tilde = w.indexOf('~')
      if (hasStar && w.indexOf('*') == w.length - 1 && !hasQm &&
          w.count(_ == '*') == 1)
        Span.Multi(PrefixQ(oneToken(w.dropRight(1))))
      else if (hasStar || hasQm)
        Span.Multi(WildcardQ(w.toLowerCase(java.util.Locale.ROOT)))
      else if (tilde >= 0) {
        val e = if (tilde == w.length - 1) 2 else w.substring(tilde + 1).toInt
        Span.Multi(FuzzyQ(oneToken(w.substring(0, tilde)), e))
      } else Span.Term(oneToken(w))
    }

    // slots: groups keep their parens; words split on whitespace
    val slots = Seq.newBuilder[(Span, Boolean)] // (span, isNegative)
    var i = 0
    while (i < body.length) {
      while (i < body.length && body.charAt(i).isWhitespace) i += 1
      if (i < body.length) {
        var neg = false
        if (body.charAt(i) == '-') { neg = true; i += 1 }
        if (i < body.length && body.charAt(i) == '(') {
          val close = body.indexOf(')', i)
          if (close < 0) throw ParseError("unterminated group in phrase", i)
          val members = body.substring(i + 1, close).split("\\s+")
            .filter(_.nonEmpty).toSeq
          if (members.exists(_.startsWith("-")))
            throw ParseError("negatives inside phrase groups unsupported", i)
          if (members.isEmpty) throw ParseError("empty group in phrase", i)
          slots += ((Span.Or(members.map(slotSpan)), neg))
          i = close + 1
        } else {
          val start = i
          while (i < body.length && !body.charAt(i).isWhitespace) i += 1
          slots += ((slotSpan(body.substring(start, i)), neg))
        }
      }
    }
    val all = slots.result()
    if (all.isEmpty) throw ParseError("empty phrase", 0)
    val positives = all.collect { case (sp, false) => sp }
    val numNeg = all.size - positives.size
    if (positives.isEmpty) throw ParseError("pure negative phrase", 0)
    if (all.size == 1) all.head._1 match {
      case Span.Term(t) => return TermQ(t)
      case sp => return SpanQ(Span.Near(Seq(sp), slop, inOrder))
    }
    if (numNeg == 0)
      SpanQ(Span.Near(positives, slop, inOrder))
    else {
      val include =
        if (positives.size == 1) positives.head
        else Span.Near(positives, slop + numNeg, inOrder)
      val exclude = Span.Near(all.map(_._1), slop, inOrder)
      SpanQ(Span.Not(include, exclude))
    }
  }

  /** SimpleQueryParser (`lucene/queryparser/.../simple/SimpleQueryParser
    * .java:43-120`): the fault-tolerant end-user syntax — `+` AND,
    * `|` OR (binding looser than `+`), `-` NOT on a clause, quoted
    * phrases with optional `~slop`, a trailing `*` prefix, parentheses;
    * bare whitespace applies `defaultOp` ("or" = SHOULD, the reference
    * default, or "and"). Lenient: stray operators at clause boundaries
    * are skipped rather than rejected, as the reference parses
    * degenerate input best-effort.
    */
  def parseSimple(input: String, defaultOp: String = "or"): Query = {
    val p = new SimpleP(input, defaultOp == "and")
    val q = p.parseOr()
    Query.rewrite(q)
  }

  private final class SimpleP(s: String, andDefault: Boolean) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def peek: Char = s.charAt(pos)
    def skipWs(): Unit = while (!eof && peek.isWhitespace) pos += 1

    def parseOr(): Query = {
      var groups = Seq(parseAnd())
      while ({ skipWs(); !eof && peek == '|' }) { pos += 1; groups :+= parseAnd() }
      val flat = groups.filterNot(_ == MatchNoneQ)
      if (flat.isEmpty) MatchNoneQ
      else if (flat.size == 1) flat.head
      else BoolQ(should = flat, minShouldMatch = 1)
    }

    /** A '+'-or-whitespace chain; '-' negates its operand. */
    private def parseAnd(): Query = {
      var more = true
      var explicitAnd = false
      var sawAny = false
      val wsClauses = Seq.newBuilder[(Query, Boolean)] // (clause, negated)
      while (more) {
        skipWs()
        if (eof || peek == '|' || peek == ')') more = false
        else {
          if (peek == '+') { pos += 1; explicitAnd = true; skipWs() }
          var negated = false
          if (!eof && peek == '-') { pos += 1; negated = true; skipWs() }
          if (eof || peek == '|' || peek == ')') more = false // stray op: lenient
          else {
            wsClauses += ((parsePrim(), negated))
            sawAny = true
          }
        }
      }
      if (!sawAny) return MatchNoneQ
      val cls = wsClauses.result().filterNot(_._1 == MatchNoneQ)
      if (cls.isEmpty) return MatchNoneQ
      val negs = cls.collect { case (q, true) => q }
      val poss = cls.collect { case (q, false) => q }
      if (poss.isEmpty) throw ParseError("pure negative clause", pos)
      if (negs.isEmpty && !explicitAnd && !andDefault && poss.size > 1)
        BoolQ(should = poss, minShouldMatch = 1) // default op = SHOULD
      else if (negs.isEmpty && poss.size == 1) poss.head
      else BoolQ(must = poss, mustNot = negs)
    }

    private def parsePrim(): Query = {
      if (peek == '(') {
        pos += 1
        val q = parseOr()
        skipWs()
        if (!eof && peek == ')') pos += 1 // unterminated: lenient
        q
      } else if (peek == '"') {
        pos += 1
        val start = pos
        while (!eof && peek != '"') pos += 1
        val raw = s.substring(start, pos)
        if (!eof) pos += 1
        var slop = 0
        if (!eof && peek == '~') {
          pos += 1
          var n = 0
          var any = false
          while (!eof && peek.isDigit) { n = n * 10 + (peek - '0'); pos += 1; any = true }
          if (any) slop = n
        }
        val ts = graft.core.Analysis.simpleTokens(raw).toSeq
        if (ts.isEmpty) MatchNoneQ
        else if (ts.size == 1) TermQ(ts.head)
        else PhraseQ(ts, slop)
      } else {
        val start = pos
        while (!eof && !" \t\n+|-()\"".contains(peek)) pos += 1
        val w = s.substring(start, pos)
        if (w.isEmpty) { pos += 1; MatchNoneQ } // lone symbol: lenient
        else if (w.endsWith("*") && w.length > 1)
          PrefixQ(oneToken(w.dropRight(1)))
        else graft.core.Analysis.simpleTokens(w).toSeq match {
          case Seq(t) => TermQ(t)
          case Seq() => MatchNoneQ
          case ts => PhraseQ(ts) // "a.b" analyzes to 2 tokens → phrase
        }
      }
    }
  }

  private def oneToken(w: String): String = {
    val toks = graft.core.Analysis.simpleTokens(w)
    if (toks.length != 1)
      throw ParseError(s"'$w' analyzes to ${toks.length} tokens", 0)
    toks(0)
  }

  /** Surround query language (`queryparser/surround/parser/QueryParser
    * .jj:202-217,345-360`): distance operators nW (ordered) / nN
    * (unordered) in prefix `3w(a, b)` and infix `a 3w b` form — distance
    * n defaults to 1 and maps to slop n−1 (`surround/query/DistanceQuery
    * .java:97`) — under the boolean layer OR < AND < NOT < N < W (JJ
    * production order). Terms may be truncated (`a*` prefix, `a?b`
    * wildcard). Distance subqueries may be terms, truncations, OR groups
    * or nested distance ops; AND/NOT inside a distance op is rejected
    * (the reference's distanceSubQueryNotAllowed law). An infix chain
    * `a 3w b 2w c` folds into ONE distance query with the LAST
    * operator's distance (:345-352).
    */
  def parseSurround(input: String): Query = {
    val p = new SurroundP(input)
    val q = p.parseOr()
    p.skipWs()
    if (!p.eof) throw ParseError(s"unexpected '${p.rest}'", p.pos)
    Query.rewrite(toQuery(q))
  }

  // surround AST: distance ops must stay symbolic until we know whether
  // they sit inside another distance op (span) or at top level (query)
  private sealed trait SQ
  private final case class STerm(w: String) extends SQ
  private final case class SDist(cls: Seq[SQ], dist: Int, ordered: Boolean) extends SQ
  private final case class SOr(cls: Seq[SQ]) extends SQ
  private final case class SAnd(cls: Seq[SQ]) extends SQ
  private final case class SNot(pos: SQ, neg: SQ) extends SQ

  private def termQuery(w: String): Query = {
    val hasStar = w.contains('*')
    val hasQm = w.contains('?')
    if (hasStar && w.indexOf('*') == w.length - 1 && !hasQm &&
        w.count(_ == '*') == 1) PrefixQ(oneToken(w.dropRight(1)))
    else if (hasStar || hasQm) WildcardQ(w.toLowerCase(java.util.Locale.ROOT))
    else TermQ(oneToken(w))
  }

  private def toSpan(q: SQ): Span = q match {
    case STerm(w) => termQuery(w) match {
      case TermQ(t) => Span.Term(t)
      case mt => Span.Multi(mt)
    }
    case SDist(cls, dist, ordered) =>
      Span.Near(cls.map(toSpan), dist - 1, ordered)
    case SOr(cls) => Span.Or(cls.map(toSpan))
    case other => throw ParseError(
      s"subquery not allowed in a distance operator: $other", 0)
  }

  private def toQuery(q: SQ): Query = q match {
    case STerm(w) => termQuery(w)
    case d: SDist => SpanQ(toSpan(d))
    case SOr(cls) => BoolQ(should = cls.map(toQuery), minShouldMatch = 1)
    case SAnd(cls) => BoolQ(must = cls.map(toQuery))
    case SNot(pos, neg) =>
      BoolQ(must = Seq(toQuery(pos)), mustNot = Seq(toQuery(neg)))
  }

  private final class SurroundP(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def rest: String = s.substring(pos)
    def peek: Char = s.charAt(pos)
    def skipWs(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1

    /** Case-insensitive keyword at a token boundary. */
    private def kw(k: String): Boolean = {
      skipWs()
      if (s.regionMatches(true, pos, k, 0, k.length)) {
        val after = pos + k.length
        if (after >= s.length || !s.charAt(after).isLetterOrDigit) {
          pos = after; return true
        }
      }
      false
    }

    /** Distance operator token `(<digits>)?[wWnN]` at a boundary;
      * returns (distance, ordered).
      */
    private def distOp(): Option[(Int, Boolean)] = {
      skipWs()
      val save = pos
      var d = 0
      var hasD = false
      while (!eof && peek.isDigit) { d = d * 10 + (peek - '0'); pos += 1; hasD = true }
      if (!eof && (peek == 'w' || peek == 'W' || peek == 'n' || peek == 'N')) {
        val ordered = peek == 'w' || peek == 'W'
        val after = pos + 1
        val boundary = after >= s.length || !s.charAt(after).isLetterOrDigit
        if (boundary) {
          pos = after
          val dist = if (hasD) d else 1
          if (dist < 1) throw ParseError("distance must be >= 1", save)
          return Some((dist, ordered))
        }
      }
      pos = save
      None
    }

    def parseOr(): SQ = {
      var cls = Seq(parseAnd())
      while (kw("OR")) cls :+= parseAnd()
      if (cls.size == 1) cls.head else SOr(cls)
    }

    private def parseAnd(): SQ = {
      var cls = Seq(parseNot())
      while (kw("AND")) cls :+= parseNot()
      if (cls.size == 1) cls.head else SAnd(cls)
    }

    private def parseNot(): SQ = {
      var q = parseN()
      while (kw("NOT")) q = SNot(q, parseN())
      q
    }

    /** Infix N chain (binds looser than W, JJ NQuery → WQuery). */
    private def parseN(): SQ = infixChain(parseW(), ordered = false)

    private def parseW(): SQ = infixChain(parsePrimary(), ordered = true)

    private def infixChain(first: SQ, ordered: Boolean): SQ = {
      var cls = Seq(first)
      var dist = 1
      var more = true
      while (more) {
        val save = pos
        distOp() match {
          case Some((d, o)) if o == ordered =>
            dist = d // the LAST operator's distance wins (:345-352)
            cls :+= (if (ordered) parsePrimary() else parseW())
          case _ => pos = save; more = false
        }
      }
      if (cls.size == 1) cls.head else SDist(cls, dist, ordered)
    }

    private def parsePrimary(): SQ = {
      skipWs()
      if (eof) throw ParseError("expected clause", pos)
      // prefix distance op: 3w(a, b)
      val save = pos
      distOp() match {
        case Some((d, ordered)) =>
          skipWs()
          if (!eof && peek == '(') {
            pos += 1
            var cls = Seq(parseOr())
            while ({ skipWs(); !eof && peek == ',' }) { pos += 1; cls :+= parseOr() }
            skipWs()
            if (eof || peek != ')') throw ParseError("expected ')'", pos)
            pos += 1
            if (cls.size < 2)
              throw ParseError("distance op needs >= 2 subqueries", save)
            return SDist(cls, d, ordered)
          }
          pos = save // bare 'w'/'n' word, not an operator
        case None =>
      }
      if (peek == '(') {
        pos += 1
        val q = parseOr()
        skipWs()
        if (eof || peek != ')') throw ParseError("expected ')'", pos)
        pos += 1
        q
      } else {
        val start = pos
        while (!eof && !" \t\n(),".contains(peek)) pos += 1
        if (pos == start) throw ParseError("expected word", pos)
        STerm(s.substring(start, pos))
      }
    }
  }

  private final class P(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def rest: String = s.substring(pos)
    def peek: Char = s.charAt(pos)
    def skipWs(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1

    def parseQuery(): Query = {
      val must = Seq.newBuilder[Query]
      val mustNot = Seq.newBuilder[Query]
      val should = Seq.newBuilder[Query]
      var any = false
      while ({ skipWs(); !eof && peek != ')' }) {
        any = true
        val occ =
          if (peek == '+') { pos += 1; '+' }
          else if (peek == '-') { pos += 1; '-' }
          else ' '
        val q = parseBoolean()
        occ match {
          case '+' => must += q
          case '-' => mustNot += q
          case _ => should += q
        }
      }
      if (!any) throw ParseError("empty query", pos)
      val (m, n, sh) = (must.result(), mustNot.result(), should.result())
      if (m.isEmpty && n.isEmpty && sh.size == 1) sh.head
      else if (n.nonEmpty && m.isEmpty && sh.isEmpty)
        throw ParseError("pure negative query", pos)
      else BoolQ(must = m, should = sh, mustNot = n,
        minShouldMatch = if (m.isEmpty && sh.nonEmpty) 1 else 0)
    }

    def parseBoolean(): Query = {
      var left = parsePart()
      var done = false
      while (!done) {
        val save = pos
        skipWs()
        val op = keyword()
        op match {
          case Some("AND") | Some("&&") =>
            // flatten chains: 'a AND b AND c' → ONE BoolQ(+a +b +c) like the
            // reference parser's flat BooleanQuery (nested conjunctions
            // would round the inner float sum before the outer add)
            val right = parsePart()
            left = left match {
              case BoolQ(m, Seq(), Seq(), Seq(), 0) if m.nonEmpty =>
                BoolQ(must = m :+ right)
              case other => Query.and(other, right)
            }
          case Some("OR") | Some("||") =>
            val right = parsePart()
            left = left match {
              case BoolQ(Seq(), sh, Seq(), Seq(), 1) =>
                BoolQ(should = sh :+ right, minShouldMatch = 1)
              case other => Query.or(other, right)
            }
          case _ => pos = save; done = true
        }
      }
      left
    }

    private def keyword(): Option[String] = {
      for (k <- Seq("AND", "OR", "&&", "||")) {
        if (s.regionMatches(pos, k, 0, k.length)) {
          val after = pos + k.length
          val boundary = after >= s.length || !s.charAt(after).isLetterOrDigit
          if (boundary) { pos = after; return Some(k) }
        }
      }
      None
    }

    def parsePart(): Query = {
      skipWs()
      if (eof) throw ParseError("expected clause", pos)
      peek match {
        case '(' =>
          pos += 1
          val q = parseQuery()
          skipWs()
          expect(')')
          withBoost(q)
        case '"' => withBoost(parsePhrase())
        case '[' | '{' => withBoost(parseRange())
        case _ => parseTerm()
      }
    }

    private def expect(c: Char): Unit = {
      if (eof || peek != c) throw ParseError(s"expected '$c'", pos)
      pos += 1
    }

    private def parsePhrase(): Query = {
      expect('"')
      val start = pos
      while (!eof && peek != '"') pos += 1
      val raw = s.substring(start, pos)
      expect('"')
      val terms = graft.core.Analysis.simpleTokens(raw).toSeq
      if (terms.isEmpty) throw ParseError("empty phrase", pos)
      PhraseQ(terms)
    }

    private def parseRange(): Query = {
      val inclLo = peek == '['
      pos += 1
      val lo = word()
      skipWs()
      if (!s.regionMatches(pos, "TO", 0, 2)) throw ParseError("expected TO", pos)
      pos += 2
      skipWs()
      val hi = word()
      skipWs()
      val inclHi =
        if (!eof && (peek == ']' || peek == '}')) { val c = peek; pos += 1; c == ']' }
        else throw ParseError("expected ] or }", pos)
      TermRangeQ(analyzeOne(lo), analyzeOne(hi), inclLo, inclHi)
    }

    private def word(): String = {
      skipWs()
      val start = pos
      while (!eof && !" \t\n()\"[]{}^~*:".contains(peek)) pos += 1
      if (pos == start) throw ParseError("expected word", pos)
      s.substring(start, pos)
    }

    private def analyzeOne(w: String): String = {
      val toks = graft.core.Analysis.simpleTokens(w)
      if (toks.length != 1) throw ParseError(s"'$w' analyzes to ${toks.length} tokens", pos)
      toks(0)
    }

    /** Word including embedded wildcard chars (for `te*t` / `te?t`). */
    private def wildcardWord(): String = {
      skipWs()
      val start = pos
      while (!eof && !" \t\n()\"[]{}^~:".contains(peek)) pos += 1
      if (pos == start) throw ParseError("expected word", pos)
      s.substring(start, pos)
    }

    /** Lowercase the literal runs of a wildcard pattern, keep `*`/`?`. */
    private def analyzeWildcard(w: String): String = {
      val lowered = w.toLowerCase(java.util.Locale.ROOT)
      require(lowered.exists(c => c != '*' && c != '?'),
        "pure-wildcard term not allowed")
      lowered
    }

    private def parseTerm(): Query = {
      var w = wildcardWord()
      // field: prefix — single-field engine, accept and drop
      if (!eof && peek == ':' ) { pos += 1; w = wildcardWord() }
      val hasStar = w.contains('*')
      val hasQm = w.contains('?')
      val q: Query =
        if (hasStar && w.indexOf('*') == w.length - 1 && !hasQm &&
            w.count(_ == '*') == 1)
          PrefixQ(analyzeOne(w.dropRight(1)))    // trailing-only star
        else if (hasStar || hasQm)
          WildcardQ(analyzeWildcard(w))          // mid-token wildcard
        else if (!eof && peek == '~') {
          pos += 1
          val edits =
            if (!eof && peek.isDigit) { val d = peek - '0'; pos += 1; d }
            else 2
          FuzzyQ(analyzeOne(w), edits)
        } else TermQ(analyzeOne(w))
      withBoost(q)
    }

    private def withBoost(q: Query): Query = {
      if (!eof && peek == '^') {
        pos += 1
        val start = pos
        while (!eof && (peek.isDigit || peek == '.')) pos += 1
        if (pos == start) throw ParseError("expected boost value", pos)
        BoostQ(q, s.substring(start, pos).toFloat)
      } else q
    }
  }
}
