package graft.search

/** Structured score explanation (reference Explanation tree,
  * /root/reference/core/search/explanation.go:1-129): a value, a human
  * description, and child details whose composition yields the value. The
  * root's `value` MUST equal the score `search()` assigns the doc — the
  * reference's own e2e test asserts this
  * (/root/reference/core_test/search_test.go:36-78) and ExplainSpec restates
  * it here for both scoring modes.
  */
final case class Explanation(
    value: Double,
    description: String,
    details: Seq[Explanation] = Nil,
    isMatch: Boolean = true) {

  def render: String = {
    val sb = new StringBuilder
    def walk(e: Explanation, depth: Int): Unit = {
      sb ++= "  " * depth
      sb ++= f"${e.value}%.6f = ${e.description}"
      if (!e.isMatch) sb ++= " (non-match)"
      sb += '\n'
      e.details.foreach(walk(_, depth + 1))
    }
    walk(this, 0)
    sb.toString
  }

  override def toString: String = render
}

private[search] object Explain {

  /** Build the explanation for one doc of the prepared plan `p` from its
    * range's raw posting rows; the statistics shown are the ones `p`
    * compiled with. Values are produced by the SAME plan evaluator the
    * collectors use ([[GroupEval.scoreAt]]), so root.value == search score
    * by construction, at every tree level; `mode` only rounds the coord
    * node's clause sum the way the evaluator does.
    */
  def forDoc(
      p: Prepared,
      rows: Array[PRow],
      rangeId: Long,
      docId: Long,
      field: String,
      simName: String,
      mode: ScoreMode): Explanation = {
    val ge = p.ge
    val dels = if (rows.isEmpty) null else rows(0)._7
    if (!ge.live(docId, dels))
      return Explanation(0.0, s"doc $docId: deleted (liveDocs)", Nil, isMatch = false)
    val acc = ge.fill(rangeId, rows.iterator)
    val slot = (docId - acc.base).toInt
    if (slot < 0 || slot >= acc.width || !acc.touched(slot))
      return Explanation(0.0, s"doc $docId: no query term matches", Nil, isMatch = false)

    def scoreOf(n: CNode): Double = ge.scoreAt(acc, slot, n)

    def node(q: Query, n: CNode): Explanation = (q, n) match {

      case (TermQuery(t, boost, f), leaf @ CLeafTerm(idx, fi, scorer)) =>
        val fieldName = f.getOrElse(field)
        val v = scoreOf(leaf)
        if (v.isNaN || idx < 0)
          Explanation(0.0, s"no match: weight($fieldName:$t)", Nil, isMatch = false)
        else {
          val freq = acc.freqs(idx)(slot)
          val ts = p.stats.terms((fieldName, t))
          val cs = p.stats.fields(fieldName)
          // detail values COMPOSE: their product in mode arithmetic equals the
          // node value exactly (reference term.go:163-193 — tfNorm × weight);
          // the function arguments live in descriptions, not value nodes
          val ctx = s"termFreq=$freq, docFreq=${ts.docFreq}, maxDoc=${cs.maxDoc}, " +
            s"dl=${acc.dls(fi)(slot)}, normByte=${acc.norms(fi)(slot)}, avgdl=${Bm25.avgdlExact(cs)}"
          Explanation(v,
            s"product of: weight($fieldName:$t in $docId) [$simName" +
              (if (boost != 1.0f) s", boost=$boost" else "") + s"] ($ctx)",
            scorer.explainFactors(freq, acc, fi, slot).map { case (l, x) => Explanation(x, l) })
        }

      case (PhraseQuery(ts, boost, f, slop), leaf @ CLeafPhrase(idxs, fi, scorer, _)) =>
        val fieldName = f.getOrElse(field)
        val v = scoreOf(leaf)
        val pf = Eval.phraseFreq(idxs, acc, slot, slop)
        if (v.isNaN)
          Explanation(0.0, s"no match: phrase(\"${ts.mkString(" ")}\")", Nil, isMatch = false)
        else
          Explanation(v,
            s"product of: weight($fieldName:\"${ts.mkString(" ")}\" in $docId) [phrase" +
              (if (slop > 0) s"~$slop" else "") +
              (if (boost != 1.0f) s", boost=$boost" else "") +
              s"] (phraseFreq=$pf, dl=${acc.dls(fi)(slot)})",
            scorer.explainFactors(pf, acc, fi, slot).map { case (l, x) => Explanation(x, l) })

      case (PhraseQuery(ts, _, _, _), _: CLeafTerm) => // missing member term
        Explanation(0.0, s"no match: phrase(\"${ts.mkString(" ")}\") has unindexed terms",
          Nil, isMatch = false)

      case (BooleanQuery(clauses, msm, _), b @ CBool(must, should, filters, mustNot, _, coords)) =>
        val v = scoreOf(b)
        def of(o: Occur) = clauses.filter(_.occur == o).map(_.query)
        val mustEx = of(Occur.MUST).zip(must).map { case (cq, cn) => node(cq, cn) }
        val shouldEx = of(Occur.SHOULD).zip(should).map { case (cq, cn) => node(cq, cn) }
        // filters never score: shown as 0-value children (presence only)
        val filterEx = of(Occur.FILTER).zip(filters).map { case (cq, cn) =>
          val m = !scoreOf(cn).isNaN
          Explanation(0.0, s"filter($cq): ${if (m) "matches (contributes no score)"
            else "does not match"}", Nil, isMatch = m)
        }
        val notHits = mustNot.count(cn => !scoreOf(cn).isNaN)
        if (v.isNaN) {
          val why =
            if (notHits > 0) s"excluded by MUST_NOT ($notHits prohibited clause(s) match)"
            else if (filterEx.exists(!_.isMatch)) "a FILTER clause does not match"
            else if (mustEx.exists(!_.isMatch)) "a MUST clause does not match"
            else if (shouldEx.count(_.isMatch) < msm)
              s"only ${shouldEx.count(_.isMatch)} of minShouldMatch=$msm SHOULD clauses match"
            else "no scoring clause matches"
          Explanation(0.0, s"no match: boolean ($why)",
            mustEx ++ shouldEx ++ filterEx, isMatch = false)
        } else {
          val matched = shouldEx.count(_.isMatch)
          val coordVal = coords(must.length + matched)
          // filter children carry value 0 — the fold-add composition is intact
          val kids = mustEx ++ shouldEx ++ filterEx
          // composition: value == fold-add of MATCHING details in listed order
          // (must then should — the exact summation order of Eval in each
          // mode's arithmetic), then × coord when it is not 1
          if (coordVal == 1.0f)
            Explanation(v,
              s"sum of: boolean (minShouldMatch=$msm, ${mustNot.length} prohibited)", kids)
          else {
            val sumV = kids.filter(_.isMatch).foldLeft(0.0)((s, e) => mode.round(s + e.value))
            Explanation(v, "product of: boolean (coord-scaled)",
              Seq(
                Explanation(sumV,
                  s"sum of: clauses (minShouldMatch=$msm, ${mustNot.length} prohibited)", kids),
                Explanation(coordVal.toDouble,
                  s"coord(${must.length + matched}/${must.length + should.length})")))
          }
        }

      case (DisMaxQuery(cs, tie, _), d @ CDisMax(children, _)) =>
        val v = scoreOf(d)
        val kids = cs.zip(children).map { case (cq, cn) => node(cq, cn) }
        if (v.isNaN)
          Explanation(0.0, "no match: dismax (no clause matches)", kids, isMatch = false)
        else
          // composition: max over matching kids + tie × (sum − max), in mode
          // arithmetic — the kids' values ARE the per-clause scores
          Explanation(v, s"max plus $tie times others of:", kids)

      case (ConstantScoreQuery(cq, s), c @ CConst(_, _)) =>
        val v = scoreOf(c)
        val m = !v.isNaN
        // the child is shown presence-only (its score is discarded)
        val kid = Explanation(0.0,
          s"match($cq): ${if (m) "matches (score discarded)" else "does not match"}",
          Nil, isMatch = m)
        if (m) Explanation(v, s"constant score $s", Seq(kid))
        else Explanation(0.0, "no match: constant-score wrapper", Seq(kid), isMatch = false)

      case _ =>
        val v = scoreOf(n)
        Explanation(if (v.isNaN) 0.0 else v, s"query $q", Nil, isMatch = !v.isNaN)
    }

    node(Query.rewrite(p.q), ge.planRoot)
  }
}
