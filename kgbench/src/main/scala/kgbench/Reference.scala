package kgbench

import scala.collection.mutable

import graft.model.{Doc, GazEntry, SameAsEdge, Spec}

/** The benchmark's independent reference: the expected triple set of a
  * generated input, computed by a plain per-document loop with naive
  * window matching and a union-find, without calling the engine. Only the
  * frozen constants of [[graft.model.Spec]] (gazetteer, sameAs fixture,
  * salt, predicate IRIs, score formula) are shared with the engine. */
object Reference {

  /** One triple as a single string, fields joined by U+0001. */
  def key(subj: String, pred: String, obj: String, objType: String): String =
    s"$subj\u0001$pred\u0001$obj\u0001$objType"

  /** 64-bit hash of a triple key; the Spark side applies the same function
    * through a UDF, so both sides sum identical values. */
  def hash(k: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(k, 0x5eed)
    val b = scala.util.hashing.MurmurHash3.stringHash(k, 0x2bad)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

  /** Order-independent summary of a triple set: row count, XOR of hashes
    * and the sum of the hashes' top 40 bits (cannot overflow below 2^23
    * rows). Two sets with equal summaries are equal but for a hash
    * collision. */
  final case class Summary(rows: Long, xor: Long, sum: Long)

  def summary(keys: Iterable[String]): Summary = {
    var x = 0L; var s = 0L
    keys.foreach { k => val h = hash(k); x ^= h; s += h >>> 24 }
    Summary(keys.size.toLong, x, s)
  }

  /** Node → component minimum (string order), by union-find. */
  def components(edges: Seq[SameAsEdge]): Map[String, String] = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { e =>
      val (a, b) = (find(e.src_entity), find(e.dst_entity))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    edges.iterator.flatMap(e => Iterator(e.src_entity, e.dst_entity))
      .map(n => n -> find(n)).toMap
  }

  private def sha256Hex16(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  /** Expected triples of `docs` when every entity is resolved through the
    * components of `sameAs`. */
  def triples(docs: Iterable[Doc], sameAs: Seq[SameAsEdge],
      gazetteer: Seq[GazEntry] = Spec.Gazetteer): mutable.HashSet[String] = {
    val canon = components(sameAs)
    // surface → (tokens, best entity by score desc then id asc)
    val patterns = gazetteer.groupBy(_.surface).toSeq.map { case (s, es) =>
      val best = es.map(e => (e.entity_id, Spec.scoreOf(e.prior, s)))
        .filter(_._2 >= Spec.ScoreThreshold)
        .sortBy { case (id, sc) => (-sc, id) }.head._1
      (s, s.split(' ').filter(_.nonEmpty).toVector, best)
    }
    val byFirst = patterns.groupBy(_._2.head)
    val uris = mutable.HashMap.empty[String, String]
    def entUri(id: String): String = {
      val c = canon.getOrElse(id, id)
      uris.getOrElseUpdate(c, "ex:ent/" + sha256Hex16(Spec.Salt + c))
    }
    val out = mutable.HashSet.empty[String]
    docs.foreach { doc =>
      val docUri = "ex:doc/" + doc.doc_id
      doc.spans.foreach { span =>
        if (span.offset < 0) ()
        else if (span.kind == "media" && span.media_ref != null)
          out += key(docUri, Spec.PredMedia, "ex:media/" + span.media_ref, "iri")
        else if (span.kind == "text" && span.text != null) {
          val lower = span.text.toLowerCase
          val toks = mutable.ArrayBuffer.empty[(String, Int)]
          var i = 0
          while (i < lower.length) {
            if (lower.charAt(i) == ' ') i += 1
            else {
              val st = i
              while (i < lower.length && lower.charAt(i) != ' ') i += 1
              toks += ((lower.substring(st, i), st))
            }
          }
          val found = for {
            t <- toks.indices
            (surface, ptoks, best) <- byFirst.getOrElse(toks(t)._1, Nil)
            if t + ptoks.length <= toks.length &&
              (0 until ptoks.length).forall(j => toks(t + j)._1 == ptoks(j))
          } yield {
            val last = toks(t + ptoks.length - 1)
            (toks(t)._2, last._2 + last._1.length, surface, best)
          }
          // longest first, then leftmost, then surface; greedy
          val kept = mutable.ArrayBuffer.empty[(Int, Int)]
          found.sortBy { case (b, e, s, _) => (b - e, b, s) }.foreach {
            case (b, e, surface, best) =>
              if (!kept.exists { case (kb, ke) => b < ke && kb < e }) {
                kept += ((b, e))
                val u = entUri(best)
                out += key(docUri, Spec.PredTextMention, u, "iri")
                out += key(u, Spec.PredLabel, surface, "literal")
              }
          }
        }
      }
    }
    out
  }
}
