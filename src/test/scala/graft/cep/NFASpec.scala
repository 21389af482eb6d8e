package graft.cep

import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.duration._

/** Pattern-semantics tests mirroring the reference's CEP ITCase shapes
  * (flink-cep PatternTest / CEPITCase scenarios, re-derived by hand).
  * Events are (ts, label); matches are asserted on bound labels.
  */
class NFASpec extends AnyFunSuite {
  private type E = (Long, String)
  private def ts(e: E): Long = e._1
  private def seq(labels: String*): IndexedSeq[E] =
    labels.zipWithIndex.map { case (l, i) => (i.toLong * 10, l) }.toIndexedSeq
  private def is(l: String): E => Boolean = _._2 == l

  private def labels(m: PatternMatch[E], stage: String): Seq[String] =
    m.bindings(stage).map(_._2)

  test("begin.followedBy skips non-matching events (relaxed contiguity)") {
    val p = Pattern.begin[E]("a").where(is("A")).followedBy("b").where(is("B"))
    val ms = NFA.findMatches(seq("A", "X", "X", "B"), ts, p)
    assert(ms.length === 1)
    assert(ms.head.startIdx === 0 && ms.head.endIdx === 3)
  }

  test("begin.next requires immediate successor (strict contiguity)") {
    val p = Pattern.begin[E]("a").where(is("A")).next("b").where(is("B"))
    assert(NFA.findMatches(seq("A", "X", "B"), ts, p).isEmpty)
    assert(NFA.findMatches(seq("A", "B"), ts, p).length === 1)
  }

  test("oneOrMore is greedy with relaxed internal contiguity") {
    val p = Pattern.begin[E]("a").where(is("A")).oneOrMore
      .followedBy("b").where(is("B"))
    val ms = NFA.findMatches(seq("A", "X", "A", "B"), ts, p)
    assert(ms.length === 2) // NoSkip: starts at idx 0 and idx 2
    assert(labels(ms.head, "a") === Seq("A", "A"))
    assert(labels(ms(1), "a") === Seq("A"))
  }

  test("oneOrMore.consecutive requires adjacent loop events") {
    val p = Pattern.begin[E]("a").where(is("A")).oneOrMore.consecutive
      .followedBy("b").where(is("B"))
    val ms = NFA.findMatches(seq("A", "A", "X", "A", "B"), ts, p)
    // greedy from idx0: A,A then (X breaks the loop) B binds at idx4
    assert(labels(ms.head, "a") === Seq("A", "A"))
  }

  test("times(n) exact count") {
    val p = Pattern.begin[E]("a").where(is("A")).times(2)
      .followedBy("b").where(is("B"))
    val ms = NFA.findMatches(seq("A", "A", "B"), ts, p)
    assert(ms.length === 1)
    assert(labels(ms.head, "a") === Seq("A", "A"))
    assert(NFA.findMatches(seq("A", "B"), ts, p).isEmpty)
  }

  test("times(from,to) backtracks from greedy to feasible") {
    val p = Pattern.begin[E]("a").where(is("A")).times(1, 3)
      .next("b").where(is("B"))
    // A A A B: greedy 3 As then strict B works
    assert(labels(NFA.findMatches(seq("A", "A", "A", "B"), ts, p).head, "a").length === 3)
    // A A B: greedy tries 2 then B strict — works with 2
    assert(labels(NFA.findMatches(seq("A", "A", "B"), ts, p).head, "a").length === 2)
  }

  test("optional stage can be skipped") {
    val p = Pattern.begin[E]("a").where(is("A"))
      .followedBy("m").where(is("M")).optional
      .followedBy("b").where(is("B"))
    val withM = NFA.findMatches(seq("A", "M", "B"), ts, p)
    assert(labels(withM.head, "m") === Seq("M"))
    val withoutM = NFA.findMatches(seq("A", "B"), ts, p)
    assert(withoutM.head.bindings("m").isEmpty)
  }

  test("notFollowedBy guard kills the match when guard fires in the gap") {
    val p = Pattern.begin[E]("a").where(is("A"))
      .notFollowedBy("g").where(is("G"))
      .followedBy("b").where(is("B"))
    assert(NFA.findMatches(seq("A", "G", "B"), ts, p).isEmpty)
    assert(NFA.findMatches(seq("A", "X", "B"), ts, p).length === 1)
  }

  test("notNext guard checks only the immediate successor") {
    val p = Pattern.begin[E]("a").where(is("A"))
      .notNext("g").where(is("G"))
      .followedBy("b").where(is("B"))
    assert(NFA.findMatches(seq("A", "G", "B"), ts, p).isEmpty)
    assert(NFA.findMatches(seq("A", "X", "G", "B"), ts, p).length === 1)
  }

  test("trailing notFollowedBy requires within and guards the window") {
    val p = Pattern.begin[E]("a").where(is("A"))
      .followedBy("b").where(is("B"))
      .notFollowedBy("g").where(is("G"))
      .within(1.second)
    // G inside the window after B → no match
    assert(NFA.findMatches(IndexedSeq((0L, "A"), (10L, "B"), (20L, "G")), ts, p).isEmpty)
    // G outside the window → match survives
    assert(NFA.findMatches(IndexedSeq((0L, "A"), (10L, "B"), (2000L, "G")), ts, p).length === 1)
    val noWithin = Pattern.begin[E]("a").where(is("A")).notFollowedBy("g").where(is("G"))
    assertThrows[IllegalArgumentException] {
      NFA.findMatches(IndexedSeq((0L, "A")), ts, noWithin)
    }
  }

  test("within bounds first-to-last event time") {
    val p = Pattern.begin[E]("a").where(is("A")).followedBy("b").where(is("B"))
      .within(15.millis)
    val events = IndexedSeq((0L, "A"), (10L, "B"), (100L, "A"), (200L, "B"))
    val ms = NFA.findMatches(events, ts, p)
    assert(ms.length === 1) // second pair is 100ms apart > 15ms
    assert(ms.head.startIdx === 0)
  }

  test("afterMatch SkipPastLast suppresses overlapping matches") {
    val p = Pattern.begin[E]("a").where(is("A")).followedBy("b").where(is("B"))
      .afterMatchSkipPastLast
    // A A B B: NoSkip would give (0,2) and (1,2); SkipPastLast gives (0,2) then (3,? none)
    val ms = NFA.findMatches(seq("A", "A", "B", "B"), ts, p)
    assert(ms.length === 1)
    assert(ms.head.startIdx === 0 && ms.head.endIdx === 2)
    val noSkip = p.copy(afterMatch = AfterMatch.NoSkip)
    assert(NFA.findMatches(seq("A", "A", "B", "B"), ts, noSkip).length === 2)
  }

  test("or predicate composition") {
    val p = Pattern.begin[E]("a").where(is("A")).or(is("C"))
      .followedBy("b").where(is("B"))
    assert(NFA.findMatches(seq("C", "B"), ts, p).length === 1)
  }

  test("optional FIRST stage can match zero occurrences (A* B ~ bare B)") {
    // SQL row-pattern semantics: PATTERN (A* B) matches a bare B.
    val p = Pattern.begin[E]("a").where(is("A")).times(0, 2)
      .next("b").where(is("B")).afterMatchSkipPastLast
    val ms = NFA.findMatches(seq("B", "X", "A", "B"), ts, p)
    // bare B at idx 0 (zero A's, anchored at start); A B at idx 2-3
    assert(ms.map(m => (m.startIdx, m.endIdx)) === Seq((0, 0), (2, 3)))
    assert(labels(ms.head, "a") === Seq.empty)
    assert(labels(ms(1), "a") === Seq("A"))
    // zero-width matches are never produced: A* alone on non-A input
    val pStar = Pattern.begin[E]("a").where(is("A")).times(0, 2)
    assert(NFA.findMatches(seq("X", "X"), ts, pStar).isEmpty)
  }

  test("timesOrMore(n) takes n or more, greedy by default") {
    val p = Pattern.begin[E]("a").where(is("A")).timesOrMore(2)
      .followedBy("b").where(is("B"))
    assert(NFA.findMatches(seq("A", "B"), ts, p).isEmpty) // one A is not enough
    val ms = NFA.findMatches(seq("A", "A", "A", "B"), ts, p)
    assert(labels(ms.head, "a") === Seq("A", "A", "A")) // greedy takes all
  }

  test("until() stops the loop at the first stop-condition event") {
    // without until: greedy a+ swallows the A AFTER the first C, binding
    // b to the SECOND C; with until the loop halts at the first C
    val base = Pattern.begin[E]("a").where(is("A")).oneOrMore
      .followedBy("b").where(is("C"))
    val events = seq("A", "A", "C", "A", "C")
    val noUntil = NFA.findMatches(events, ts, base)
    assert(labels(noUntil.head, "a") === Seq("A", "A", "A"))
    assert(noUntil.head.endIdx === 4)
    val withUntil = NFA.findMatches(events, ts,
      Pattern.begin[E]("a").where(is("A")).oneOrMore.until(is("C"))
        .followedBy("b").where(is("C")))
    assert(labels(withUntil.head, "a") === Seq("A", "A"))
    assert(withUntil.head.endIdx === 2)
  }

  test("reluctant loop binds the shortest viable run") {
    val p = Pattern.begin[E]("a").where(is("A")).oneOrMore.reluctant
      .followedBy("b").where(is("B"))
    val ms = NFA.findMatches(seq("A", "A", "A", "B"), ts, p)
    assert(labels(ms.head, "a") === Seq("A")) // shortest-first
    assert(ms.head.startIdx === 0 && ms.head.endIdx === 3)
  }

  test("afterMatchSkipToFirst/SkipToLast resume inside the match") {
    val p = Pattern.begin[E]("a").where(is("A")).times(2).consecutive
      .next("b").where(is("B"))
    // A A A B: match 1 binds a=[0,1], b=3? no — strict: a=[idx0,idx1] b=idx2? events A A B A A B
    val events = seq("A", "A", "B", "A", "A", "B")
    // SkipToLast("a"): after match (a=[0,1], b=2) resume at idx 1 → the
    // pair (1,?) fails (A B at 1,2 is only one A) ... then matches (3,4,5)
    val toLast = NFA.findMatches(events, ts, p.afterMatchSkipToLast("a"))
      .map(m => (m.startIdx, m.endIdx))
    assert(toLast === Seq((0, 2), (3, 5)))
    // NoSkip for contrast: starts 0 and 3 both match; start 1 fails (A B)
    val noSkip = NFA.findMatches(events, ts, p)
      .map(m => (m.startIdx, m.endIdx))
    assert(noSkip === Seq((0, 2), (3, 5)))
    // SkipToFirst("a") must still make progress (target == start)
    val toFirst = NFA.findMatches(events, ts, p.afterMatchSkipToFirst("a"))
      .map(m => (m.startIdx, m.endIdx))
    assert(toFirst === Seq((0, 2), (3, 5)))
  }

  test("match indices are exposed for skip strategies and all-rows") {
    val p = Pattern.begin[E]("a").where(is("A")).oneOrMore
      .followedBy("b").where(is("B"))
    val m = NFA.findMatches(seq("A", "X", "A", "B"), ts, p).head
    assert(m.indices("a") === Seq(0, 2))
    assert(m.indices("b") === Seq(3))
    assert(m.rows.map(_._1) === Seq("a", "a", "b"))
  }

  test("followedByAny enumerates one match per matching candidate") {
    val p = Pattern.begin[E]("a").where(is("A")).followedByAny("b").where(is("B"))
    val ms = NFA.findAllMatches(seq("A", "B", "X", "B", "B"), ts, p)
    // start at A: three B candidates, one match each
    assert(ms.map(m => (m.startIdx, m.indices("b").head)) === Seq((0, 1), (0, 3), (0, 4)))
    // plain followedBy under the enumerating matcher keeps first-match
    val single = Pattern.begin[E]("a").where(is("A")).followedBy("b").where(is("B"))
    assert(NFA.findAllMatches(seq("A", "B", "X", "B", "B"), ts, single)
      .map(m => m.indices("b").head) === Seq(1))
  }

  test("allowCombinations takes every in-order subsequence of the loop") {
    val p = Pattern.begin[E]("a").where(is("A")).oneOrMore.allowCombinations
      .followedBy("b").where(is("B"))
    val ms = NFA.findAllMatches(seq("A", "A", "A", "B"), ts, p)
    val byStart = ms.groupBy(_.startIdx).view.mapValues(_.map(_.indices("a")).toSet).toMap
    // anchor 0: subsets of {1,2} appended → 4; anchor 1: subsets of {2} → 2; anchor 2: 1
    assert(byStart(0) === Set(Seq(0), Seq(0, 1), Seq(0, 2), Seq(0, 1, 2)))
    assert(byStart(1) === Set(Seq(1), Seq(1, 2)))
    assert(byStart(2) === Set(Seq(2)))
    assert(ms.length === 7)
  }

  test("combinationTailCap is a Pattern parameter and truncations are counted, not just warned") {
    // 5 matching tail As after the anchor; cap at 2 → subsequences draw
    // from a 2-event tail only, and the loss is observable in the counter
    val events = seq("A", "A", "A", "A", "A", "A", "B")
    val capped = Pattern.begin[E]("a").where(is("A")).oneOrMore.allowCombinations
      .followedBy("b").where(is("B"))
      .combinationTailCap(2)
    NFA.resetTailTruncationCount()
    val ms = NFA.findAllMatches(events, ts, capped)
    // anchors 0..2 have tails of 5..3 matching As (> 2) → 3 truncations;
    // anchors 3 (tail 2), 4 (tail 1) and 5 (tail 0) fit
    assert(NFA.tailTruncationCount === 3L)
    // anchor 0 enumerates subsets of its FIRST-2 tail {1,2} only
    val anchor0 = ms.filter(_.startIdx == 0).map(_.indices("a")).toSet
    assert(anchor0 === Set(Seq(0), Seq(0, 1), Seq(0, 2), Seq(0, 1, 2)))
    // the default cap leaves small tails untruncated and counts nothing
    NFA.resetTailTruncationCount()
    val full = Pattern.begin[E]("a").where(is("A")).oneOrMore.allowCombinations
      .followedBy("b").where(is("B"))
    val msFull = NFA.findAllMatches(events, ts, full)
    assert(NFA.tailTruncationCount === 0L)
    assert(msFull.filter(_.startIdx == 0).length === 32) // 2^5 subsets of the tail
    intercept[IllegalArgumentException](full.combinationTailCap(0))
  }

  /** A random flag-free pattern over labels A/B/C: 2–4 stages joined by
    * next/followedBy/notNext/notFollowedBy, each positive stage with a
    * random quantifier (once, optional, oneOrMore, times, times range),
    * loops sometimes consecutive, reluctant or bounded by until, and a
    * within() window on most patterns (always with a notFollowedBy,
    * which requires one once it trails the match).
    */
  private def randomFlagFreePattern(rnd: scala.util.Random): Pattern[E] = {
    def label(): String = Vector("A", "B", "C")(rnd.nextInt(3))
    def quantify(p: Pattern[E]): Pattern[E] = {
      val q = rnd.nextInt(6) match {
        case 0 => p.optional
        case 1 => p.oneOrMore
        case 2 => p.times(1 + rnd.nextInt(2))
        case 3 => p.times(rnd.nextInt(2), 1 + rnd.nextInt(3))
        case _ => p
      }
      if (q.stages.last.quantifier.max == 1) q
      else Seq[Pattern[E] => Pattern[E]](_.consecutive, _.reluctant, _.until(is(label())))
        .foldLeft(q)((acc, f) => if (rnd.nextInt(4) == 0) f(acc) else acc)
    }
    var p = quantify(Pattern.begin[E]("s0").where(is(label())))
    for (i <- 1 to 1 + rnd.nextInt(3)) {
      val name = s"s$i"
      // a guard only after a mandatory positive stage: skipping an
      // optional one between two guards would chain them, which the
      // matcher rejects
      val guardable = !p.stages.last.negated && p.stages.last.quantifier.min > 0
      rnd.nextInt(if (guardable) 4 else 2) match {
        case 0 => p = quantify(p.next(name).where(is(label())))
        case 1 => p = quantify(p.followedBy(name).where(is(label())))
        case 2 => p = p.notNext(name).where(is(label()))
        case _ => p = p.notFollowedBy(name).where(is(label()))
      }
    }
    // skipped optional stages can leave any notFollowedBy trailing
    val notFollowedBy = p.stages.exists(st => st.negated && st.contiguity == Contiguity.Relaxed)
    if (notFollowedBy || rnd.nextInt(4) != 0) p.within((20 + 10 * rnd.nextInt(6)).millis)
    else p
  }

  test("enumerating matcher equals single matcher on flag-free patterns (randomized)") {
    val rnd = new scala.util.Random(11)
    var matched = 0
    for (_ <- 1 to 400) {
      val p = randomFlagFreePattern(rnd)
      val events = seq(Vector.fill(4 + rnd.nextInt(9))(Vector("A", "B", "C")(rnd.nextInt(3))): _*)
      val single = NFA.findMatches(events, ts, p) // NoSkip default
      val all = NFA.findAllMatches(events, ts, p)
      val shape = p.stages.map(st => (st.name, st.quantifier, st.contiguity, st.negated))
      assert(all.groupBy(_.startIdx).values.forall(_.size <= 1),
        s"several matches per start on ${events.map(_._2).mkString} for $shape")
      assert(all.map(m => (m.startIdx, m.endIdx, m.indices)) ===
        single.map(m => (m.startIdx, m.endIdx, m.indices)),
        s"divergence on ${events.map(_._2).mkString} for $shape")
      matched += all.size
    }
    // the generator must exercise matching shapes, not only misses
    // (seed 11: 605 matches)
    assert(matched > 300)
  }

  test("relaxed candidates are generated lazily: a next-event B is tested O(1) times per start") {
    // A B A B …: from each A the first B candidate is the very next
    // event; an eager candidate list would test B over the whole wide
    // window from every start (~n²/4 calls)
    val n = 2000
    val events = seq(Vector.tabulate(n)(i => if (i % 2 == 0) "A" else "B"): _*)
    val bCalls = new java.util.concurrent.atomic.AtomicInteger
    val p = Pattern.begin[E]("a").where(is("A"))
      .followedBy("b").where { e => bCalls.incrementAndGet(); e._2 == "B" }
      .within(1.hour)
    def callsPerStart(run: => Seq[PatternMatch[E]]): Double = {
      bCalls.set(0)
      assert(run.length === n / 2)
      bCalls.get.toDouble / n
    }
    assert(callsPerStart(NFA.findMatches(events, ts, p)) <= 2.0)
    assert(callsPerStart(NFA.findAllMatches(events, ts, p)) <= 2.0)
    assert(callsPerStart(NFA.findWithTimeouts(events, ts, p)._1) <= 2.0)
  }

  test("a trailing notFollowedBy scans the window, not the rest of the sequence") {
    // events 10 ms apart, a 30 ms window: each A's trailing guard covers
    // the next 3 events whatever the sequence length
    val n = 4000
    val events = seq(Vector.tabulate(n)(i => if (i % 4 == 0) "A" else "B"): _*)
    val tsCalls = new java.util.concurrent.atomic.AtomicInteger
    val countedTs: E => Long = e => { tsCalls.incrementAndGet(); e._1 }
    val p = Pattern.begin[E]("a").where(is("A")).notFollowedBy("x").where(is("X")).within(30.millis)
    assert(NFA.findMatches(events, countedTs, p).length === n / 4)
    assert(tsCalls.get.toDouble / n <= 4.0)
  }

  test("three-stage funnel with tsPerMs scaling") {
    val p = Pattern.begin[E]("s").where(is("S"))
      .followedBy("v").where(is("V"))
      .followedBy("p").where(is("P"))
      .within(1.minute)
    // ts in "microseconds": 1 minute = 60e6 µs with tsPerMs=1000
    val events = IndexedSeq((0L, "S"), (30L * 1000000, "V"), (59L * 1000000, "P"))
    assert(NFA.findMatches(events, ts, p, tsPerMs = 1000L).length === 1)
    val late = IndexedSeq((0L, "S"), (30L * 1000000, "V"), (61L * 1000000, "P"))
    assert(NFA.findMatches(late, ts, p, tsPerMs = 1000L).isEmpty)
  }

  test("findWithTimeouts: stalled runs report their longest bound prefix") {
    val p = Pattern.begin[E]("a").where(is("A"))
      .followedBy("b").where(is("B"))
      .followedBy("c").where(is("C"))
      .within(1.second) // ts unit = ms here (tsPerMs=1): window = 1000
    // A@0 B@10 C@20  → full match
    // A@40 B@50 (no C) → partial bound through 'b'
    // A@80 (no B)      → partial bound at 'a' only
    val events = IndexedSeq((0L, "A"), (10L, "B"), (20L, "C"),
      (40L, "A"), (50L, "B"), (80L, "A"))
    val (full, part) = NFA.findWithTimeouts(events, ts, p)
    assert(full.length === 1 && full.head.startIdx === 0)
    assert(part.length === 2)
    assert(part(0).bindings.keySet === Set("a", "b") &&
      labels(part(0), "a") === Seq("A") && part(0).startIdx === 3)
    assert(part(1).bindings.keySet === Set("a") && part(1).startIdx === 5)
  }

  test("findWithTimeouts: runs killed by a negated guard are discarded, not timed out") {
    // A notFollowedBy G followedBy C, within 1s — flink-cep's stop
    // condition kills the run when G fires; no timeout partial emits
    val p = Pattern.begin[E]("a").where(is("A"))
      .notFollowedBy("g").where(is("G"))
      .followedBy("c").where(is("C"))
      .within(1.second)
    // A@0 G@10 (no C in window): guard fired → killed, NOT a timeout
    // A@2000 (no G, no C in window): stalled → timeout partial at 'a'
    // A@4000 C@4010: full match (guard never fired)
    val events = IndexedSeq((0L, "A"), (10L, "G"),
      (2000L, "A"), (4000L, "A"), (4010L, "C"))
    val (full, part) = NFA.findWithTimeouts(events, ts, p)
    assert(full.length === 1 && full.head.startIdx === 3)
    assert(part.length === 1, s"guard-killed run leaked a timeout: $part")
    assert(part.head.startIdx === 2 && part.head.bindings.keySet === Set("a"))
  }

  test("findWithTimeouts: horizon gates expiry (streaming watermark semantics)") {
    val p = Pattern.begin[E]("a").where(is("A"))
      .followedBy("b").where(is("B")).within(1.second)
    val events = IndexedSeq((0L, "A"), (2000L, "A"))
    // watermark 500: neither run expired (0+1000 > 500, 2000+1000 > 500)
    assert(NFA.findWithTimeouts(events, ts, p, horizonTs = 500L)._2.isEmpty)
    // watermark 1500: only the first run has timed out
    val part = NFA.findWithTimeouts(events, ts, p, horizonTs = 1500L)._2
    assert(part.length === 1 && part.head.startIdx === 0)
    // end of input: both
    assert(NFA.findWithTimeouts(events, ts, p)._2.length === 2)
  }

  test("iterative condition sees events bound so far (ref IterativeCondition.filter(value, ctx))") {
    // accept b only once at least two a's are bound
    val p = Pattern.begin[E]("a").where(is("A")).oneOrMore
      .followedBy("b").where(is("B"))
      .where((_: E, ctx: MatchContext[E]) => ctx.eventsFor("a").length >= 2)
    assert(NFA.findMatches(seq("A", "B"), ts, p).isEmpty)
    val ms = NFA.findMatches(seq("A", "A", "B"), ts, p)
    assert(ms.nonEmpty && labels(ms.head, "a") === Seq("A", "A"))
  }

  test("iterative condition inside a loop sees the loop's earlier takes (strictly-decreasing run)") {
    // ts doubles as the price; down+ = strictly decreasing consecutive run
    val evs: IndexedSeq[E] = IndexedSeq((10, "p"), (8, "p"), (6, "p"), (9, "p"), (4, "p"))
    val p = Pattern.begin[E]("down").times(2, 10).consecutive
      .where((e: E, ctx: MatchContext[E]) =>
        ctx.eventsFor("down").lastOption.forall(prev => e._1 < prev._1))
      .afterMatchSkipPastLast
    val ms = NFA.findMatches(evs, ts, p)
    assert(ms.map(m => m.bindings("down").map(_._1)) === Seq(Seq(10L, 8L, 6L), Seq(9L, 4L)))
  }

  test("MatchContext.prev/next navigate the INPUT sequence, independent of bindings") {
    val p = Pattern.begin[E]("a").where(is("A"))
      .followedBy("b").where(is("B"))
      .where((_: E, ctx: MatchContext[E]) => ctx.prev(1).exists(_._2 == "X"))
    assert(NFA.findMatches(seq("A", "X", "B"), ts, p).length === 1)
    assert(NFA.findMatches(seq("A", "Y", "B"), ts, p).isEmpty)
    // off the front: prev(n) beyond the sequence is None
    val p0 = Pattern.begin[E]("a").where(is("A"))
      .where((_: E, ctx: MatchContext[E]) => ctx.prev(1).isEmpty)
    assert(NFA.findMatches(seq("A", "A"), ts, p0).map(_.startIdx) === Seq(0))
  }

  test("iterative condition on a guard: negation can reference bound events") {
    // guard fires only when the gap event exceeds the bound a's value
    val evs: IndexedSeq[E] = IndexedSeq((5, "A"), (9, "G"), (0, "B"))
    def guarded(thr: Boolean): Pattern[E] = {
      val base = Pattern.begin[E]("a").where(is("A"))
        .notFollowedBy("g").where(is("G"))
      val g = if (thr)
        base.where((e: E, ctx: MatchContext[E]) =>
          ctx.first("a").exists(a => e._1 > a._1))
      else base
      g.followedBy("b").where(is("B"))
    }
    // with the iterative guard (G@9 > A@5) the match dies; a plain-G guard too
    assert(NFA.findMatches(evs, ts, guarded(thr = true)).isEmpty)
    // G below the bound value does not fire the guard
    val evs2: IndexedSeq[E] = IndexedSeq((5, "A"), (3, "G"), (0, "B"))
    assert(NFA.findMatches(evs2, ts, guarded(thr = true)).length === 1)
    assert(NFA.findMatches(evs2, ts, guarded(thr = false)).isEmpty)
  }

  test("iterative conditions under the enumerating matcher (followedByAny)") {
    val p = Pattern.begin[E]("a").where(is("A"))
      .followedByAny("b").where(is("B"))
      .where((e: E, ctx: MatchContext[E]) => ctx.first("a").exists(a => e._1 > a._1))
    // A@0, B@10, B@20 — but ts here encodes value: A=5, B=3, B=8
    val evs: IndexedSeq[E] = IndexedSeq((5, "A"), (3, "B"), (8, "B"))
    val ms = NFA.findAllMatches(evs, ts, p)
    // only the B above A's value binds; the B below is filtered per-candidate
    assert(ms.map(m => m.bindings("b").head._1) === Seq(8L))
  }

  test("findWithTimeouts: runs discarded by SkipPastLast do not time out") {
    val p = Pattern.begin[E]("a").where(is("A"))
      .followedBy("b").where(is("B"))
      .within(1.second).afterMatchSkipPastLast
    // A@0 A@10 B@20: the first run consumes through B; the A@10 start is
    // skipped by the strategy, so no partial emits for it
    val events = IndexedSeq((0L, "A"), (10L, "A"), (20L, "B"))
    val (full, part) = NFA.findWithTimeouts(events, ts, p)
    assert(full.length === 1 && part.isEmpty)
  }
}
