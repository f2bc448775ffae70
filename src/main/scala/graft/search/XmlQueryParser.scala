package graft.search

import org.w3c.dom.Element

/** The reference's XML query parser surface (`lucene/queryparser/src/
  * java/org/apache/lucene/queryparser/xml/CoreParser.java:60-110` and
  * its builders/ package): an XML tree of query elements compiled to
  * the engine's [[Query]] AST. Element and attribute names, defaults,
  * and nesting rules follow the reference builders exactly:
  *
  *   TermQuery (boost)                 TermQueryBuilder.java:30-44
  *   TermsQuery (msm, boost)           TermsQueryBuilder.java (analyzed
  *                                     text -> SHOULD terms)
  *   MatchAllDocsQuery                 MatchAllDocsQueryBuilder.java
  *   BooleanQuery (Clause occurs=      BooleanQueryBuilder.java:46-85
  *     should|must|mustNot|filter,
  *     minimumNumberShouldMatch, boost)
  *   RangeQuery (lowerTerm, upperTerm, RangeQueryBuilder.java:33-42
  *     includeLower, includeUpper)
  *   DisjunctionMaxQuery (tieBreaker,  DisjunctionMaxQueryBuilder.java
  *     boost; child elements = disjuncts)
  *   ConstantScoreQuery (boost)        ConstantScoreQueryBuilder.java
  *   BoostingQuery (Query + BoostQuery BoostingQueryBuilder.java:35-55
  *     children, boost attr on BoostQuery)
  *   BoostingTermQuery (boost)         BoostingTermBuilder.java (payload
  *                                     avg over the term's occurrences)
  *   UserQuery                         UserInputQueryBuilder.java
  *                                     (classic QueryParser text)
  *   SpanTerm / SpanNear (slop,        SpanNearBuilder.java:40-56 et al.
  *     inOrder) / SpanOr / SpanOrTerms
  *     / SpanFirst (end) / SpanNot
  *     (Include/Exclude children)
  *
  * Field names: this engine indexes ONE content field per index, so
  * `fieldName` attributes are accepted and ignored (the reference's
  * multi-field addressing maps to per-field indexes here — see
  * MultiField). Analyzed elements (TermsQuery, SpanOrTerms, UserQuery)
  * use the engine's oracle-parity simple analyzer. Boosts on NESTED
  * span elements are rejected loudly (the Span algebra carries no
  * per-node boost; a top-level span boost folds into the span weight,
  * the q_span_boost law).
  */
object XmlQueryParser {

  def parse(xml: String): Query = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    // untrusted query text: no DTDs, no external entities
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.setExpandEntityReferences(false)
    val doc = f.newDocumentBuilder()
      .parse(new org.xml.sax.InputSource(new java.io.StringReader(xml)))
    query(doc.getDocumentElement)
  }

  private val SpanElems =
    Set("SpanTerm", "SpanNear", "SpanOr", "SpanOrTerms", "SpanFirst",
      "SpanNot")

  private def query(e: Element): Query = e.getTagName match {
    case "TermQuery" => boosted(e, TermQ(text(e)))
    case "TermsQuery" =>
      val terms = graft.core.Analysis.simpleTokens(text(e)).toSeq
      boosted(e, BoolQ(should = terms.map(TermQ),
        minShouldMatch = intAttr(e, "minimumNumberShouldMatch", 0)))
    case "MatchAllDocsQuery" => boosted(e, MatchAllQ)
    case "BooleanQuery" =>
      var must, should, mustNot, filter = Seq.empty[Query]
      childElems(e).foreach { c =>
        require(c.getTagName == "Clause",
          s"BooleanQuery children must be Clause elements, got ${c.getTagName}")
        val inner = query(firstChildElem(c))
        attr(c, "occurs").map(_.toLowerCase).getOrElse("should") match {
          case "should" => should :+= inner
          case "must" => must :+= inner
          case "mustnot" => mustNot :+= inner
          case "filter" => filter :+= inner
          case other => sys.error(s"invalid occurs value: $other")
        }
      }
      boosted(e, BoolQ(must, should, mustNot, filter,
        intAttr(e, "minimumNumberShouldMatch", 0)))
    case "RangeQuery" =>
      val lower = attr(e, "lowerTerm").getOrElse(
        sys.error("RangeQuery requires lowerTerm"))
      val upper = attr(e, "upperTerm").getOrElse(
        sys.error("RangeQuery requires upperTerm"))
      boosted(e, TermRangeQ(lower, upper,
        boolAttr(e, "includeLower", default = true),
        boolAttr(e, "includeUpper", default = true)))
    case "DisjunctionMaxQuery" =>
      boosted(e, DisMaxQ(childElems(e).map(query),
        floatAttr(e, "tieBreaker", 0f)))
    case "ConstantScoreQuery" =>
      boosted(e, ConstScoreQ(query(firstChildElem(e))))
    case "BoostingQuery" =>
      val main = query(firstChildElem(childByTag(e, "Query")))
      val bqElem = childByTag(e, "BoostQuery")
      val context = query(firstChildElem(bqElem))
      // the context-boost default of the reference builder
      boosted(e, BoostingQ(main, context, floatAttr(bqElem, "boost", 0.01f)))
    case "BoostingTermQuery" =>
      // PayloadScoreQuery(SpanTermQuery, AveragePayloadFunction),
      // includeSpanScore = true (BoostingTermBuilder.java:35-45)
      boosted(e, PayloadScoreQ(Span.Term(text(e)), "avg",
        includeSpanScore = true))
    case "UserQuery" => boosted(e, QueryParser.parse(text(e)))
    case t if SpanElems.contains(t) =>
      // a top-level span boost rides BoostQ into the span weight
      boosted(e, SpanQ(span(e, topLevel = true)))
    case other => sys.error(s"unknown query element: $other")
  }

  private def span(e: Element, topLevel: Boolean = false): Span = {
    if (!topLevel)
      require(floatAttr(e, "boost", 1f) == 1f,
        s"nested span boosts are not expressible (${e.getTagName})")
    e.getTagName match {
      case "SpanTerm" => Span.Term(text(e))
      case "SpanNear" =>
        val slop = attr(e, "slop").getOrElse(
          sys.error("SpanNear requires slop")).toInt
        Span.Near(childElems(e).map(span(_)), slop,
          boolAttr(e, "inOrder", default = false))
      case "SpanOr" => Span.Or(childElems(e).map(span(_)))
      case "SpanOrTerms" =>
        Span.Or(graft.core.Analysis.simpleTokens(text(e)).toSeq
          .map(Span.Term))
      case "SpanFirst" =>
        Span.First(span(firstChildElem(e)), intAttr(e, "end", 1))
      case "SpanNot" =>
        Span.Not(span(firstChildElem(childByTag(e, "Include"))),
          span(firstChildElem(childByTag(e, "Exclude"))))
      case other => sys.error(s"unknown span element: $other")
    }
  }

  // ---------- DOM helpers (DOMUtils analogs) ----------

  private def childElems(e: Element): Seq[Element] = {
    val nl = e.getChildNodes
    (0 until nl.getLength).map(nl.item)
      .collect { case el: Element => el }
  }

  private def firstChildElem(e: Element): Element =
    childElems(e).headOption.getOrElse(
      sys.error(s"${e.getTagName} requires a child query element"))

  private def childByTag(e: Element, tag: String): Element =
    childElems(e).find(_.getTagName == tag).getOrElse(
      sys.error(s"${e.getTagName} requires a <$tag> child"))

  private def text(e: Element): String = {
    val t = e.getTextContent.trim
    require(t.nonEmpty, s"${e.getTagName} requires non-blank text")
    t
  }

  private def attr(e: Element, name: String): Option[String] = {
    val v = e.getAttribute(name)
    if (v == null || v.isEmpty) None else Some(v)
  }

  private def intAttr(e: Element, name: String, default: Int): Int =
    attr(e, name).map(_.toInt).getOrElse(default)

  private def floatAttr(e: Element, name: String, default: Float): Float =
    attr(e, name).map(_.toFloat).getOrElse(default)

  private def boolAttr(e: Element, name: String, default: Boolean): Boolean =
    attr(e, name).map(_.toBoolean).getOrElse(default)

  private def boosted(e: Element, q: Query): Query = {
    val b = floatAttr(e, "boost", 1f)
    if (b == 1f) q else BoostQ(q, b)
  }
}
