package graft.cep

import scala.collection.mutable

/** NFA-style matcher over an event-time-sorted sequence (ref: flink-cep
  * NFA.java:1053, NFACompiler, CepOperator.java:83 — semantics
  * re-derived; the implementation is a fresh backtracking matcher suited
  * to per-key sorted groups under Spark).
  *
  * Used per key: batch mode sorts each group (flatMapGroups), streaming
  * mode replays the watermark-complete prefix of the state buffer
  * (flatMapGroupsWithState). Events per key are assumed to fit in memory
  * — the same assumption Flink's per-key SharedBuffer makes.
  *
  * Semantics: greedy quantifiers with backtracking; `followedBy` scans
  * forward over non-matching events; `next` requires the immediate
  * successor; negated guards invalidate a match if the guard predicate
  * fires in the gap they cover; `within` bounds last−first event time.
  *
  * One walker ([[walk]]) yields, per start index and lazily, every
  * viable assignment in preference order. The enumerating entry point
  * [[findAllMatches]] emits all of them — followedByAny/allowCombinations
  * stages branch, the others keep the first viable assignment. The
  * first-match entry points ([[findMatches]], [[findMatchesMulti]],
  * [[findWithTimeouts]]) take the walk's first assignment over the
  * pattern with those two flags cleared: at most one greedy-first match
  * per start, the after-match strategy picking the next start.
  */
object NFA {

  /** allowCombinations choice-point bound, the DEFAULT for
    * [[Pattern.combinationTailCap]]: a loop stage enumerates
    * subsequences of at most this many matching tail events per anchor.
    */
  val combinationTailCap: Int = 20

  /** Count of truncated combination enumerations (one per anchor whose
    * matching tail exceeded the pattern's cap) — the OBSERVABLE loss
    * metric a large run polls instead of grepping stderr. Per JVM: on a
    * cluster each executor counts its own partitions; the operator
    * layer diffs before/after per task and folds through a
    * LongAccumulator when a global number is needed.
    */
  private val tailTruncationsAdder = new java.util.concurrent.atomic.LongAdder
  def tailTruncationCount: Long = tailTruncationsAdder.sum()
  def resetTailTruncationCount(): Unit = tailTruncationsAdder.reset()

  @volatile private var tailTruncationWarned = false

  /** Count every truncation into [[tailTruncationCount]]; warn on
    * stderr once per JVM (not once per anchor — dense data would spam)
    * that a combinations loop saw more matching events than the cap and
    * valid longer subsequences were dropped.
    */
  private def noteTailTruncated(cap: Int): Unit = {
    tailTruncationsAdder.increment()
    if (!tailTruncationWarned) {
      tailTruncationWarned = true
      System.err.println(
        s"[graft.cep] allowCombinations tail exceeded $cap matching events; " +
          "longer subsequences are not enumerated (tighten within() or the quantifier; " +
          "loss is counted in NFA.tailTruncationCount)")
    }
  }

  /** Per-stage event indices of a partial match, in stage order. */
  private type Acc = List[(String, Seq[Int])]

  /** @param tsPerMs scale of `ts` relative to milliseconds (1000 when ts
    *                is in microseconds, as with parquet event times) —
    *                `pattern.withinMs` is scaled by it.
    */
  def findMatches[T](
      events: IndexedSeq[T],
      ts: T => Long,
      pattern: Pattern[T],
      tsPerMs: Long = 1L
  ): Seq[PatternMatch[T]] = findMatchesMulti(events, ts, Seq(pattern), tsPerMs)

  /** Preference-ordered pattern ALTERNATIVES (ref: NFACompiler's
    * expansion of PERMUTE / top-level alternation into a union of
    * sequential patterns): at each start index the candidates are tried
    * in declared order and the first that matches wins — SQL's
    * lexicographic preference. All candidates must share the after-match
    * strategy (the winner's is applied).
    */
  def findMatchesMulti[T](
      events: IndexedSeq[T],
      ts: T => Long,
      patterns: Seq[Pattern[T]],
      tsPerMs: Long = 1L
  ): Seq[PatternMatch[T]] = firstMatches(events, ts, patterns, tsPerMs)(_ => ())

  /** Full matches AND timed-out partial runs in one walk (ref: flink-cep
    * `TimedOutPartialMatchHandler.java:40` / `PatternTimeoutFunction` —
    * the timeout side output: a run that BEGAN but could not complete
    * before its within window closed surfaces with everything it bound).
    *
    * Contract:
    *  - requires `pattern.within()` (the reference: timeouts only exist
    *    under a window);
    *  - only starts the main matcher actually attempts produce
    *    partials — runs discarded by the after-match SKIP strategy were
    *    discarded by the skip, not the timeout (reference parity);
    *  - the partial is the longest proper stage-prefix match (same
    *    greedy matcher, so its bindings are exactly what the run held
    *    when it stalled); prefixes ending on a negated guard don't
    *    bind and aren't emitted;
    *  - runs KILLED by a negated guard (notFollowedBy fired mid-run)
    *    are discarded without a timeout — the reference's stop
    *    condition terminates the computation state rather than letting
    *    it expire (flink-cep NFA.java stop-state handling), so a
    *    pattern combining negation with within() only times out starts
    *    the guard never fired on;
    *  - a run times out once `horizonTs` passes start + within: pass
    *    the watermark when streaming; the default end-of-time horizon
    *    is the bounded-input case (every stalled run times out — what
    *    the reference's end-of-input watermark does).
    *
    * Like [[findMatches]] this takes one greedy-first run per start
    * index, so at most one partial emits per start — the enumerating
    * matcher's alternative branches do not produce distinct timeouts.
    */
  def findWithTimeouts[T](
      events: IndexedSeq[T],
      ts: T => Long,
      pattern: Pattern[T],
      tsPerMs: Long = 1L,
      horizonTs: Long = Long.MaxValue
  ): (Seq[PatternMatch[T]], Seq[PatternMatch[T]]) = {
    requireShape(pattern)
    val withinScaled = pattern.withinMs.map(_ * tsPerMs).getOrElse(
      throw new IllegalArgumentException("timed-out partial matches require pattern.within()"))
    val stages = pattern.stages
    // prefix(k): first match of the pattern's first k stages
    val prefix = (0 to stages.length).map(k =>
      firstMatcher(events, ts, pattern.copy(stages = stages.take(k)), tsPerMs))
    val partials = mutable.ArrayBuffer.empty[PatternMatch[T]]
    val matches = firstMatches(events, ts, Seq(pattern), tsPerMs) { i =>
      // saturating add: an end-of-time horizon must expire everything
      val deadline = ts(events(i)) + withinScaled
      if (deadline >= ts(events(i)) && deadline <= horizonTs) {
        // runs STOPPED by a negated guard are discarded, not timed out —
        // flink-cep's stop condition kills the computation state without
        // a timeout side output. Detection: the run reached some negated
        // stage (the positive prefix before it matches) and the guard
        // fired (the prefix INCLUDING it, as a trailing guard over the
        // gap/window remainder, fails). The first match is
        // greedy-deterministic, so prefix attempts replay the exact path
        // the full run held when the guard fired.
        val killedByGuard = stages.indices.exists(gi =>
          stages(gi).negated && prefix(gi)(i).isDefined && prefix(gi + 1)(i).isEmpty)
        if (!killedByGuard)
          (stages.length - 1 to 1 by -1).iterator
            .filter(k => !stages(k - 1).negated)
            .flatMap(k => prefix(k)(i))
            .nextOption()
            .foreach(partials += _)
      }
    }
    (matches, partials.toSeq)
  }

  /** The start-index loop of the first-match entry points: at each start
    * the first alternative that matches wins and its after-match
    * strategy picks the next start; `onMiss` sees every start no
    * alternative matched.
    */
  private def firstMatches[T](
      events: IndexedSeq[T],
      ts: T => Long,
      patterns: Seq[Pattern[T]],
      tsPerMs: Long
  )(onMiss: Int => Unit): Seq[PatternMatch[T]] = {
    require(patterns.nonEmpty, "no pattern alternatives")
    patterns.foreach(requireShape)
    val alternatives = patterns.map(p => (p.afterMatch, firstMatcher(events, ts, p, tsPerMs)))
    val out = mutable.ArrayBuffer.empty[PatternMatch[T]]
    var i = 0
    while (i < events.length) {
      alternatives.iterator.flatMap { case (skip, matcher) => matcher(i).map((skip, _)) }
        .nextOption() match {
        case Some((skip, m)) =>
          out += m
          i = skip match {
            case AfterMatch.SkipPastLast => m.endIdx + 1
            case AfterMatch.NoSkip       => i + 1
            // max(_, i + 1) guarantees progress when the skip target is
            // the match start itself (Flink throws there; we advance)
            case AfterMatch.SkipToFirst(v) =>
              math.max(m.indices.getOrElse(v, Nil).headOption.getOrElse(m.endIdx + 1), i + 1)
            case AfterMatch.SkipToLast(v) =>
              math.max(m.indices.getOrElse(v, Nil).lastOption.getOrElse(m.endIdx + 1), i + 1)
          }
        case None =>
          onMiss(i)
          i += 1
      }
    }
    out.toSeq
  }

  /** Start index → the first (greedy-first) match from it: the walk's
    * first assignment over `pattern` with followedByAny/allowCombinations
    * cleared, so every stage keeps only its first viable assignment.
    */
  private def firstMatcher[T](events: IndexedSeq[T], ts: T => Long, pattern: Pattern[T],
      tsPerMs: Long): Int => Option[PatternMatch[T]] = {
    val single = pattern.copy(stages = pattern.stages.map(_.copy(anyMatch = false, combinations = false)))
    start => walk(events, ts, single, start, tsPerMs).nextOption().map(buildMatch(events, single, start, _))
  }

  private def requireShape[T](pattern: Pattern[T]): Unit = {
    require(pattern.stages.nonEmpty, "empty pattern")
    require(!pattern.stages.head.negated, "pattern cannot begin with a negated stage")
  }

  /** Attach events to the index accumulator and re-attribute alternation
    * groups: a group stage's events re-bind under the first alternative
    * whose predicate accepts each event (SQL lexicographic preference).
    * acc entries are appended one per positive stage, in stage order —
    * zip to recover the Stage.
    */
  private def buildMatch[T](events: IndexedSeq[T], pattern: Pattern[T], start: Int,
      result: (Acc, Int)): PatternMatch[T] = {
    val (acc, endIdx) = result
    val positives = pattern.stages.filterNot(_.negated)
    val expanded = acc.zip(positives).flatMap { case ((sname, is), st) =>
      if (st.alternatives.isEmpty) Seq(sname -> is)
      else {
        val byAlt = is.groupBy(i =>
          st.alternatives.find(_._2(events(i))).map(_._1).getOrElse(sname))
        st.alternatives.map(_._1).filter(byAlt.contains).map(a => a -> byAlt(a))
      }
    }
    // same variable appearing in several stages (e.g. `(a|b) c (a|d)`)
    // accumulates all its events, like the reference's shared buffer
    val merged = expanded.groupBy(_._1).view
      .mapValues(_.flatMap(_._2).sorted).toSeq
    PatternMatch(merged.map { case (s, is) => s -> is.map(events(_)) }.toMap,
      start, endIdx, merged.toMap)
  }

  /** ENUMERATING matcher (ref: the NFA edges Flink keeps alive for
    * followedByAny / ALLOW_COMBINATIONS): per start index, every viable
    * assignment becomes its own match — NoSkip semantics across starts —
    * capped at `maxPerStart` against the combinatorial blowup the
    * reference documents for these modes. Stages WITHOUT
    * anyMatch/combinations keep single-match semantics (first successful
    * candidate, greedy-first loop length), so a mixed pattern only
    * branches where asked.
    */
  def findAllMatches[T](
      events: IndexedSeq[T],
      ts: T => Long,
      pattern: Pattern[T],
      tsPerMs: Long = 1L,
      maxPerStart: Int = 10000
  ): Seq[PatternMatch[T]] = {
    requireShape(pattern)
    pattern.stages.filter(_.combinations).foreach(st =>
      require(st.innerContiguity == Contiguity.Relaxed,
        "allowCombinations and consecutive() are mutually exclusive"))
    (0 until events.length).flatMap { start =>
      walk(events, ts, pattern, start, tsPerMs)
        .take(maxPerStart)
        .map(r => buildMatch(events, pattern, start, r))
        .toSeq
    }
  }

  /** The first non-empty iterator of `its`, or empty — pulls each
    * candidate only as far as its first element.
    */
  private def firstNonEmpty[A](its: Iterator[Iterator[A]]): Iterator[A] = {
    while (its.hasNext) {
      val it = its.next()
      if (it.hasNext) return it
    }
    Iterator.empty
  }

  /** Every viable assignment anchored at `start`, lazily and in
    * preference order, as (per-stage event indices, end index). Event
    * INDICES, not events, are accumulated so skip strategies and
    * all-rows emission know each binding's position. Candidates are
    * generated lazily too, so a first-match caller tests a relaxed
    * stage's predicate only up to the first candidate that completes,
    * not over the whole window.
    */
  private def walk[T](
      events: IndexedSeq[T],
      ts: T => Long,
      pattern: Pattern[T],
      start: Int,
      tsPerMs: Long
  ): Iterator[(Acc, Int)] = {
    val n = events.length
    val deadline = pattern.withinMs.map(w => ts(events(start)) + w * tsPerMs).getOrElse(Long.MaxValue)
    def inWindow(idx: Int): Boolean = ts(events(idx)) <= deadline
    // in-window indices from `from` on (events are sorted by ts)
    def window(from: Int): Iterator[Int] = Iterator.range(from, n).takeWhile(inWindow)
    // iterative conditions see the events bound so far (`bound`)
    def test(st: Stage[T], c: Int, bound: Acc): Boolean =
      st.test(events(c), new MatchContext(events, c, bound))
    def stops(st: Stage[T], c: Int): Boolean = st.until.exists(u => u(events(c)))

    /** Contiguous-run prefixes of a loop anchored at `first`, in
      * preference order (greedy = longest first, reluctant = shortest
      * first). The maximal run honors inner contiguity, the window, and
      * the `until` stop condition (checked BEFORE `where`, as in the
      * reference: an event matching both stops the loop); each
      * continuation test sees the loop's earlier takes (reference
      * parity: accepted events only).
      */
    def loopRuns(st: Stage[T], first: Int, acc: Acc): Iterator[Vector[Int]] = {
      var taken = Vector(first)
      var more = true
      while (more && taken.length < st.quantifier.max) {
        val scan = window(taken.last + 1).takeWhile(c => !stops(st, c))
        (if (st.innerContiguity == Contiguity.Strict) scan.take(1) else scan)
          .find(c => test(st, c, acc :+ (st.name -> taken))) match {
          case Some(c) => taken :+= c
          case None    => more = false
        }
      }
      val lengths = math.max(st.quantifier.min, 1) to taken.length
      (if (st.greedy) lengths.reverseIterator else lengths.iterator).map(taken.take)
    }

    // any in-order subsequence anchored at `first` (gaps over MATCHING
    // events allowed — the combinations semantics), enumerated LAZILY in
    // preference order: longest first, then lexicographically earliest
    // indices. Laziness matters: the subsequence space is 2^|tail|, and
    // the caller's maxPerStart cap can only short-circuit an iterator.
    // Tail capped at the pattern's combination cap (within() is the
    // real-world bound); the truncation is surfaced, not silent.
    def loopCombos(st: Stage[T], first: Int, acc: Acc): Iterator[Vector[Int]] = {
      // iterative conditions under combinations see the PRIOR stages'
      // bindings plus the loop anchor only — the subsequence being
      // assembled is not yet determined when each tail event is tested
      val cap = pattern.comboTailCap
      val scanned = window(first + 1).takeWhile(c => !stops(st, c))
        .filter(c => test(st, c, acc :+ (st.name -> Vector(first))))
        .take(cap + 1).toVector
      if (scanned.length > cap) noteTailTruncated(cap)
      val tail = scanned.take(cap)
      // k = events taken from the tail (the anchor is always taken)
      val hiK = math.min(tail.length, st.quantifier.max - 1)
      val loK = math.max(math.max(st.quantifier.min, 1) - 1, 0)
      (hiK to loK by -1).iterator.flatMap { k =>
        // combinations() yields position sets in lexicographic order,
        // which over the ascending tail IS earliest-indices order
        tail.indices.combinations(k).map(cs => first +: cs.map(tail).toVector)
      }
    }

    /** Match stages from `si` onward; the next positive event is at
      * index > `prevEnd` (the last matched positive event), and `guard`
      * is the pending negated stage covering the gap before it.
      */
    def go(si: Int, prevEnd: Int, guard: Option[Stage[T]], acc: Acc): Iterator[(Acc, Int)] = {
      val from = prevEnd + 1
      if (si == pattern.stages.length) {
        // zero-width matches (every stage optional and skipped) are not
        // produced — a match must consume at least one event. A trailing
        // guard covers the immediate successor (notNext) or the window
        // remainder (notFollowedBy).
        val killed = prevEnd < start || guard.exists { g =>
          if (g.contiguity == Contiguity.Strict) from < n && inWindow(from) && test(g, from, acc)
          else if (pattern.withinMs.isEmpty)
            throw new IllegalArgumentException("trailing notFollowedBy requires within()")
          else window(from).exists(test(g, _, acc))
        }
        if (killed) Iterator.empty else Iterator.single((acc, prevEnd))
      } else {
        val st = pattern.stages(si)
        if (st.negated) {
          require(guard.isEmpty, "consecutive negated stages are not supported")
          go(si + 1, prevEnd, Some(st), acc)
        } else {
          // `c` as the stage's only candidate, if it exists and passes
          def at(c: Int): Iterator[Int] =
            if (c < n && inWindow(c) && test(st, c, acc)) Iterator.single(c) else Iterator.empty
          val candidates: Iterator[Int] =
            // no event consumed yet (covers optional skipped leading
            // stages too): the first POSITIVE take must anchor at
            // `start`, else the same match would also be found from a
            // later start index
            if (prevEnd < start) at(start)
            else if (st.contiguity == Contiguity.Strict) at(from)
            else guard match {
              // a relaxed guard firing at a gap event poisons every later
              // candidate
              case Some(g) if g.contiguity == Contiguity.Relaxed =>
                window(from).takeWhile(c => !test(g, c, acc)).filter(test(st, _, acc))
              // a strict guard firing at `from` admits only `from`
              case Some(g) if from < n && test(g, from, acc) => at(from)
              case _ => window(from).filter(test(st, _, acc))
            }
          def after(tk: Vector[Int]): Iterator[(Acc, Int)] =
            go(si + 1, tk.last, None, acc :+ (st.name -> tk))
          // combinations enumerates every take; otherwise the FIRST take
          // with a completion wins
          def expand(c: Int): Iterator[(Acc, Int)] =
            if (st.quantifier.max == 1) after(Vector(c))
            else if (st.combinations) loopCombos(st, c, acc).flatMap(after)
            else firstNonEmpty(loopRuns(st, c, acc).map(after))
          // followedByAny branches on every candidate; otherwise the first
          // candidate with ANY completion wins, and all of ITS completions
          // continue downstream
          val expansions =
            if (st.anyMatch) candidates.flatMap(expand) else firstNonEmpty(candidates.map(expand))
          if (st.quantifier.min > 0) expansions
          else {
            // optional: branch into the skip too when enumerating this
            // stage; otherwise skip only if taking the stage failed. A
            // skipped FIRST stage keeps the anchor rule downstream, so
            // 'A* B' still matches a bare B anchored at the start index.
            lazy val skip = go(si + 1, prevEnd, guard, acc :+ (st.name -> Seq.empty[Int]))
            if (st.anyMatch || st.combinations) expansions ++ skip
            else if (expansions.hasNext) expansions
            else skip
          }
        }
      }
    }

    go(0, start - 1, None, Nil)
  }
}
