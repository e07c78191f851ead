package graft

import graft.model._

/** Sequential semantics oracle (SURVEY.md §0.2): an obviously-correct,
  * per-document plain-Scala implementation of the frozen pipeline spec.
  * Deliberately INDEPENDENT of the Spark implementation — naive window
  * scanning instead of Aho–Corasick, linear scans instead of joins — so
  * agreement is meaningful. Tests require the Spark pipeline's triple set
  * to equal this at P/R = 1.0 (stricter than the 0.95 acceptance bar,
  * BASELINE.json:2).
  */
object SequentialOracle {

  final case class T(subj: String, pred: String, obj: String, objType: String)

  def tokenize(text: String): Vector[(String, Int)] = {
    val lower = text.toLowerCase
    val out = Vector.newBuilder[(String, Int)]
    var i = 0
    while (i < lower.length) {
      if (lower(i) == ' ') i += 1
      else {
        val s = i
        while (i < lower.length && lower(i) != ' ') i += 1
        out += ((lower.substring(s, i), s))
      }
    }
    out.result()
  }

  /** Connected components by repeated relabeling until fixpoint (tiny
    * inputs only; O(V*E) worst case but obviously correct). */
  def components(edges: Seq[SameAsEdge]): Map[String, String] = {
    val nodes = edges.flatMap(e => Seq(e.src_entity, e.dst_entity)).distinct
    var label = nodes.map(n => n -> n).toMap
    var changed = true
    while (changed) {
      changed = false
      edges.foreach { e =>
        val m = Seq(label(e.src_entity), label(e.dst_entity)).min
        if (label(e.src_entity) != m) { label += e.src_entity -> m; changed = true }
        if (label(e.dst_entity) != m) { label += e.dst_entity -> m; changed = true }
      }
    }
    label
  }

  def triples(docs: Seq[Doc], gaz: Seq[GazEntry],
      sameAs: Seq[SameAsEdge]): Set[T] = {
    val patterns = gaz.groupBy(_.surface).map { case (s, es) =>
      (s.split(' ').filter(_.nonEmpty).toVector, s,
        es.map(e => (e.entity_id, e.prior)))
    }.toVector
    val canon = components(sameAs)
    def canonical(e: String): String = canon.getOrElse(e, e)

    val out = Set.newBuilder[T]
    docs.foreach { doc =>
      doc.spans.zipWithIndex.foreach { case (span, _) =>
        span.kind match {
          case _ if span.offset < 0 => // malformed span: dropped (P3)
          case "media" if span.media_ref != null =>
            out += T(Spec.docUri(doc.doc_id), Spec.PredMedia,
              Spec.mediaUri(span.media_ref), "iri")
          case "text" if span.text != null =>
            val toks = tokenize(span.text)
            // all token-aligned window matches, naively
            val ms = for {
              i <- toks.indices
              (ptoks, surface, ents) <- patterns
              if i + ptoks.length <= toks.length &&
                toks.slice(i, i + ptoks.length).map(_._1) == ptoks
            } yield {
              val begin = toks(i)._2
              val end = toks(i + ptoks.length - 1)._2 +
                toks(i + ptoks.length - 1)._1.length
              (begin, end, surface, ents)
            }
            // greedy overlap resolution: longest, then leftmost
            val kept = ms.sortBy { case (b, e, s, _) => (-(e - b), b, s) }
              .foldLeft(Vector.empty[(Int, Int, String, Seq[(String, Double)])]) {
                case (acc, m) =>
                  if (acc.exists(k => m._1 < k._2 && k._1 < m._2)) acc
                  else acc :+ m
              }
            // top-1 per mention: score desc, entity_id asc; a mention
            // with no candidate at or above τ links nothing
            kept.foreach { case (_, _, surface, ents) =>
              ents
                .map { case (e, p) => (e, Spec.scoreOf(p, surface)) }
                .filter(_._2 >= Spec.ScoreThreshold)
                .sortBy { case (e, sc) => (-sc, e) }
                .headOption
                .foreach { case (eid, _) =>
                  val c = canonical(eid)
                  out += T(Spec.docUri(doc.doc_id), Spec.PredTextMention,
                    Spec.entUri(c), "iri")
                  out += T(Spec.entUri(c), Spec.PredLabel, surface, "literal")
                }
            }
          case _ => // malformed span: dropped (P3)
        }
      }
    }
    out.result()
  }
}
