package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.model.{CandidateLink, GazEntry, Spec}

/** Token-level Aho–Corasick automaton over gazetteer surfaces
  * (BASELINE.json:6 "trie/Aho-Corasick gazetteer matching over text
  * spans"; algorithm: Aho & Corasick, CACM 1975).
  *
  * Patterns are token sequences (surfaces split on single spaces); matching
  * is token-aligned, so "part" never matches inside a longer token. Built
  * once on the driver from the gazetteer, broadcast to executors, and run
  * batched per partition — this is exactly the per-document-loop
  * replacement the spec asks for (BASELINE.json:6).
  */
final class ACAutomaton private (
    // goto(state) : token -> next state
    private val goto: Array[Map[String, Int]],
    private val fail: Array[Int],
    // out(state): pattern ids (into `patterns`) ending at this state
    private val out: Array[Array[Int]],
    val patterns: Array[ACAutomaton.Pattern]) extends Serializable {

  /** All token-aligned matches in `tokens`.
    * Returns (startTokenIdx, endTokenIdxExclusive, patternId). */
  def matches(tokens: Array[String]): List[(Int, Int, Int)] = {
    var st = 0
    var i = 0
    var acc: List[(Int, Int, Int)] = Nil
    while (i < tokens.length) {
      val t = tokens(i)
      while (st != 0 && !goto(st).contains(t)) st = fail(st)
      st = goto(st).getOrElse(t, 0)
      val os = out(st)
      var j = 0
      while (j < os.length) {
        val p = patterns(os(j))
        acc = (i + 1 - p.tokens.length, i + 1, os(j)) :: acc
        j += 1
      }
      i += 1
    }
    acc.reverse
  }
}

object ACAutomaton {
  final case class Pattern(surface: String, tokens: Array[String],
      entities: Array[(String, Double)]) extends Serializable

  /** Build from gazetteer entries; one pattern per distinct surface,
    * carrying all its candidate (entity_id, prior) pairs (ambiguous
    * surfaces stay ambiguous until top-1 scoring, SURVEY.md M5). */
  def build(entries: Seq[GazEntry]): ACAutomaton = {
    val patterns = entries.groupBy(_.surface).toSeq.sortBy(_._1)
      .map { case (s, es) =>
        Pattern(s, s.split(' ').filter(_.nonEmpty),
          es.map(e => (e.entity_id, e.prior)).sortBy(_._1).toArray)
      }.toArray

    val goto = mutable.ArrayBuffer(mutable.Map.empty[String, Int])
    val out = mutable.ArrayBuffer(mutable.Set.empty[Int])
    // trie
    patterns.zipWithIndex.foreach { case (p, pid) =>
      var st = 0
      p.tokens.foreach { tok =>
        goto(st).get(tok) match {
          case Some(nx) => st = nx
          case None =>
            goto += mutable.Map.empty[String, Int]
            out += mutable.Set.empty[Int]
            goto(st)(tok) = goto.size - 1
            st = goto.size - 1
        }
      }
      out(st) += pid
    }
    // fail links, BFS
    val fail = Array.fill(goto.size)(0)
    val queue = mutable.Queue.empty[Int]
    goto(0).values.foreach(queue.enqueue(_))
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      goto(u).foreach { case (tok, v) =>
        queue.enqueue(v)
        var f = fail(u)
        while (f != 0 && !goto(f).contains(tok)) f = fail(f)
        fail(v) = goto(f).getOrElse(tok, 0)
        if (fail(v) == v) fail(v) = 0
        out(v) ++= out(fail(v))
      }
    }
    new ACAutomaton(goto.map(_.toMap).toArray, fail,
      out.map(_.toArray.sorted).toArray, patterns)
  }
}

/** Batched mention detection + candidate generation (SURVEY.md M1–M3). */
object GazetteerMatcher {

  /** Tokenize normalized (lowercased) span text on single spaces, keeping
    * char offsets. Frozen tokenization (FIXTURES.md §4 context): empty
    * tokens skipped; offsets refer to the lowercased text (same length). */
  def tokenize(text: String): Array[(String, Int)] = {
    val lower = text.toLowerCase
    val buf = mutable.ArrayBuffer.empty[(String, Int)]
    var i = 0
    while (i < lower.length) {
      if (lower.charAt(i) != ' ') {
        val start = i
        while (i < lower.length && lower.charAt(i) != ' ') i += 1
        buf += ((lower.substring(start, i), start))
      } else i += 1
    }
    buf.toArray
  }

  /** Overlap resolution (M3, frozen): among matches within one span keep
    * longest (char length) first, then leftmost; greedy, discarding any
    * match overlapping an already-kept one. Operates on distinct intervals;
    * entity ambiguity survives to top-1 scoring. */
  def resolveOverlaps(ms: List[(Int, Int, Int)], toks: Array[(String, Int)],
      ac: ACAutomaton): List[(Int, Int, Int)] = {
    def charRange(m: (Int, Int, Int)): (Int, Int) = {
      val (ts, te, _) = m
      val begin = toks(ts)._2
      val end = toks(te - 1)._2 + toks(te - 1)._1.length
      (begin, end)
    }
    val sorted = ms.sortBy { m =>
      val (b, e) = charRange(m); (-(e - b), b, ac.patterns(m._3).surface)
    }
    val kept = mutable.ListBuffer.empty[((Int, Int), (Int, Int, Int))]
    sorted.foreach { m =>
      val r = charRange(m)
      val overlaps = kept.exists { case ((b, e), _) => r._1 < e && b < r._2 }
      if (!overlaps) kept += ((r, m))
    }
    kept.sortBy(_._1._1).map(_._2).toList
  }

  /** M1–M3 on one span: the kept mentions of `text` as (begin, end,
    * pattern), char offsets into the span text, end exclusive. The one
    * per-span match of [[candidates]] and [[graft.Pipeline]]. */
  def spanMentions(ac: ACAutomaton, text: String)
      : Iterator[(Int, Int, ACAutomaton.Pattern)] = {
    val toks = tokenize(text)
    resolveOverlaps(ac.matches(toks.map(_._1)), toks, ac).iterator.map {
      case (ts, te, pid) =>
        (toks(ts)._2, toks(te - 1)._2 + toks(te - 1)._1.length,
          ac.patterns(pid))
    }
  }

  /** Match text spans (doc_id, pos, text rows) against the broadcast
    * automaton; emit one CandidateLink per (kept mention × candidate
    * entity), with the frozen score prior + 0.1*len(surface).
    * Runs per-partition (typed mapPartitions — stays a Dataset op,
    * no RDD; SURVEY.md §2.11). */
  def candidates(spark: SparkSession, textSpans: DataFrame,
      entries: Seq[GazEntry],
      counters: Option[graft.Metrics.MatcherCounters] = None)
      : Dataset[CandidateLink] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(ACAutomaton.build(entries))
    textSpans.select("doc_id", "pos", "text").as[(String, Int, String)]
      .mapPartitions { it =>
        val ac = bc.value
        it.flatMap { case (docId, pos, text) =>
          counters.foreach(_.textSpans.add(1))
          if (text == null || text.isEmpty) {
            counters.foreach(_.emptySpans.add(1))
            Iterator.empty
          } else spanMentions(ac, text).flatMap { case (begin, end, p) =>
            counters.foreach(_.mentions.add(1))
            p.entities.iterator.map { case (eid, prior) =>
              CandidateLink(docId, pos, begin, end, p.surface, eid, prior,
                Spec.scoreOf(prior, p.surface))
            }
          }
        }
      }
  }
}
