package graft.cep

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** CEP execution on Spark (ref: flink-cep CepOperator.java:83 keyed NFA
  * with event-time sorting buffer; SURVEY.md §2.11 mapping).
  *
  * Batch: per-key sort + NFA over the group — one shuffle on the key,
  * group-local matching, embarrassingly parallel across keys.
  *
  * Streaming: flatMapGroupsWithState keeps an event buffer per key; at
  * each micro-batch the watermark-complete prefix is replayed through
  * the same NFA. A match starting at t0 is only emitted once
  * t0 + within <= watermark (all its candidate events have arrived), so
  * results equal the batch output regardless of arrival order.
  * Streaming patterns REQUIRE within() — it bounds both correctness
  * horizon and state size.
  */
object CEP {

  /** Batch pattern matching: one row per match via `emit`. `tsFn` must
    * return MICROseconds since epoch (Event.tsUs).
    */
  def batch[T, K: Encoder, O: Encoder](
      ds: Dataset[T],
      keyFn: T => K,
      tsFn: T => Long,
      pattern: Pattern[T],
      emit: (K, PatternMatch[T]) => O,
      tieFn: T => Long = (_: T) => 0L
  ): Dataset[O] =
    batchFlat[T, K, O](ds, keyFn, tsFn, pattern, (k, m) => Seq(emit(k, m)), tieFn)

  /** Batch pattern matching with MULTI-row emission per match — the ALL
    * ROWS PER MATCH surface (each match expands via `emit`, typically one
    * output row per matched event).
    */
  def batchFlat[T, K: Encoder, O: Encoder](
      ds: Dataset[T],
      keyFn: T => K,
      tsFn: T => Long,
      pattern: Pattern[T],
      emit: (K, PatternMatch[T]) => IterableOnce[O],
      tieFn: T => Long = (_: T) => 0L
  ): Dataset[O] = batchFlatMulti(ds, keyFn, tsFn, Seq(pattern), emit, tieFn)

  /** Batch matching over preference-ordered pattern ALTERNATIVES (the
    * PERMUTE / top-level-alternation expansion — see
    * NFA.findMatchesMulti).
    */
  def batchFlatMulti[T, K: Encoder, O: Encoder](
      ds: Dataset[T],
      keyFn: T => K,
      tsFn: T => Long,
      patterns: Seq[Pattern[T]],
      emit: (K, PatternMatch[T]) => IterableOnce[O],
      tieFn: T => Long = (_: T) => 0L
  ): Dataset[O] =
    perKey(ds, keyFn, tsFn, tieFn) { (key, events) =>
      NFA.findMatchesMulti(events, tsFn, patterns, tsPerMs = 1000L).iterator.flatMap(emit(key, _))
    }

  /** Batch timed-out partial matches (ref: flink-cep
    * `PatternTimeoutFunction` / `TimedOutPartialMatchHandler.java:40` —
    * the timeout side output): one row per started-but-incomplete run,
    * carrying the longest stage prefix it bound. Bounded input ⇒ the
    * end-of-input watermark expires every stalled run (the default
    * end-of-time horizon in [[NFA.findWithTimeouts]]); the full-match
    * stream is the existing [[batch]] over the same pattern.
    */
  def batchTimedOut[T, K: Encoder, O: Encoder](
      ds: Dataset[T],
      keyFn: T => K,
      tsFn: T => Long,
      pattern: Pattern[T],
      emit: (K, PatternMatch[T]) => O,
      tieFn: T => Long = (_: T) => 0L
  ): Dataset[O] =
    perKey(ds, keyFn, tsFn, tieFn) { (key, events) =>
      NFA.findWithTimeouts(events, tsFn, pattern, tsPerMs = 1000L)._2.iterator.map(emit(key, _))
    }

  /** Batch ENUMERATING pattern matching (ref: Pattern.followedByAny /
    * Quantifier.ALLOW_COMBINATIONS — the reference's kept "ignore"
    * edges): every viable assignment emits as its own match, NoSkip
    * across starts, capped per start. See NFA.findAllMatches.
    */
  def batchAll[T, K: Encoder, O: Encoder](
      ds: Dataset[T],
      keyFn: T => K,
      tsFn: T => Long,
      pattern: Pattern[T],
      emit: (K, PatternMatch[T]) => O,
      maxPerStart: Int = 10000,
      tieFn: T => Long = (_: T) => 0L
  ): Dataset[O] =
    perKey(ds, keyFn, tsFn, tieFn) { (key, events) =>
      NFA.findAllMatches(events, tsFn, pattern, tsPerMs = 1000L, maxPerStart).iterator.map(emit(key, _))
    }

  /** The per-key batch step: one shuffle on the key, each group sorted
    * by (ts, tie) and handed to `run`.
    */
  private def perKey[T, K: Encoder, O: Encoder](ds: Dataset[T], keyFn: T => K, tsFn: T => Long,
      tieFn: T => Long)(run: (K, IndexedSeq[T]) => Iterator[O]): Dataset[O] =
    ds.groupByKey(keyFn)(implicitly[Encoder[K]]).flatMapGroups { (key, it) =>
      run(key, it.toIndexedSeq.sortBy(e => (tsFn(e), tieFn(e))))
    }

  /** Per-key streaming state: events not yet consumed by an emitted
    * match and not yet expired below the matchable horizon.
    */
  final case class CepState[T](buffer: Seq[T])

  /** Streaming pattern matching (append-style: each match emitted exactly
    * once, when decidable). Use with update/append output via
    * `flatMapGroupsWithState`.
    */
  def streaming[T, K: Encoder, O: Encoder](
      ds: Dataset[T],
      keyFn: T => K,
      tsFn: T => Long,
      pattern: Pattern[T],
      emit: (K, PatternMatch[T]) => O,
      tieFn: T => Long = (_: T) => 0L
  )(implicit stateEnc: Encoder[CepState[T]]): Dataset[O] =
    streamingWith(ds, keyFn, tsFn, tieFn, pattern, emit, emit)((evs, _) =>
      (NFA.findMatches(evs, tsFn, pattern, tsPerMs = 1000L), Nil))

  /** Streaming ENUMERATING pattern matching (followedByAny /
    * allowCombinations): every viable assignment emits exactly once,
    * when its start becomes decidable. Enumeration implies NoSkip, so
    * no event is retired on emission — the within-horizon expiry both
    * bounds state and prevents re-emission (a decidable start is, by
    * the same inequality, an expired one).
    */
  def streamingAll[T, K: Encoder, O: Encoder](
      ds: Dataset[T],
      keyFn: T => K,
      tsFn: T => Long,
      pattern: Pattern[T],
      emit: (K, PatternMatch[T]) => O,
      maxPerStart: Int = 10000,
      tieFn: T => Long = (_: T) => 0L
  )(implicit stateEnc: Encoder[CepState[T]]): Dataset[O] = {
    require(pattern.afterMatch == AfterMatch.NoSkip,
      "enumerating CEP is NoSkip by construction")
    streamingWith(ds, keyFn, tsFn, tieFn, pattern, emit, emit)((evs, _) =>
      (NFA.findAllMatches(evs, tsFn, pattern, tsPerMs = 1000L, maxPerStart), Nil))
  }

  /** Streaming matching WITH the timeout side output (ref: flink-cep
    * `PatternStream.select(timeoutTag, …)` /
    * `CepOperator#processTimedOutSequences`): full matches emit via
    * `emitMatch` when decidable; runs that expire without completing
    * emit exactly once via `emitTimeout`, in the micro-batch where the
    * watermark first passes start + within — the SAME inequality that
    * retires the start from the state buffer, so a timed-out run can
    * never re-emit. Both outputs share one buffer replay per batch
    * ([[NFA.findWithTimeouts]] walks matches and stalled runs together).
    */
  def streamingWithTimeouts[T, K: Encoder, O: Encoder](
      ds: Dataset[T],
      keyFn: T => K,
      tsFn: T => Long,
      pattern: Pattern[T],
      emitMatch: (K, PatternMatch[T]) => O,
      emitTimeout: (K, PatternMatch[T]) => O,
      tieFn: T => Long = (_: T) => 0L
  )(implicit stateEnc: Encoder[CepState[T]]): Dataset[O] =
    streamingWith(ds, keyFn, tsFn, tieFn, pattern, emitMatch, emitTimeout)((evs, wmUs) =>
      NFA.findWithTimeouts(evs, tsFn, pattern, tsPerMs = 1000L, horizonTs = wmUs))

  /** The streaming runner: per key, the state buffer plus the batch's
    * rows are sorted and replayed through `matcher(events, watermarkUs)`,
    * which returns (matches, timed-out partials). Matches emit once their
    * start is decidable; partials emit as returned (the matcher only
    * times out runs whose window the watermark closed).
    */
  private def streamingWith[T, K: Encoder, O: Encoder](
      ds: Dataset[T],
      keyFn: T => K,
      tsFn: T => Long,
      tieFn: T => Long,
      pattern: Pattern[T],
      emitMatch: (K, PatternMatch[T]) => O,
      emitTimeout: (K, PatternMatch[T]) => O
  )(matcher: (IndexedSeq[T], Long) => (Seq[PatternMatch[T]], Seq[PatternMatch[T]]))(
      implicit stateEnc: Encoder[CepState[T]]): Dataset[O] = {
    // tsFn is in MICROseconds (matching parquet timestamp precision so
    // same-millisecond events keep a stable order); GroupState watermarks
    // and timeouts are in milliseconds.
    val withinUs = 1000L * pattern.withinMs.getOrElse(
      throw new IllegalArgumentException("streaming CEP requires pattern.within()"))

    def fn(key: K, rows: Iterator[T], state: GroupState[CepState[T]]): Iterator[O] = {
      val old = if (state.exists) state.get.buffer else Seq.empty[T]
      val all = (old ++ rows).sortBy(e => (tsFn(e), tieFn(e))).toIndexedSeq
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val (rawMatches, partials) = matcher(all, wmUs)
      // decidable starts: t0 + within <= watermark — every event that
      // could belong to such a match has arrived
      val matches = rawMatches.filter(m => tsFn(all(m.startIdx)) + withinUs <= wmUs)
      val consumed: Set[Int] = pattern.afterMatch match {
        case AfterMatch.SkipPastLast =>
          matches.flatMap(m => m.startIdx to m.endIdx).toSet
        // SkipToFirst/Last rescan part of the match, so no event can be
        // retired on emission; expiry below still bounds the state and
        // prevents re-emission (decidable ⇔ start expired).
        case _ => Set.empty
      }
      // expiry: an event with ts + within <= wm cannot belong to any
      // still-undecidable match (their starts are all > wm - within) —
      // this also retires emitted starts, preventing re-emission
      val keep = all.zipWithIndex.collect {
        case (e, i) if !consumed.contains(i) && tsFn(e) + withinUs > wmUs => e
      }
      if (keep.isEmpty) state.remove()
      else {
        state.update(CepState(keep))
        state.setTimeoutTimestamp(keep.map(tsFn).min / 1000L + pattern.withinMs.get + 1)
      }
      matches.iterator.map(emitMatch(key, _)) ++ partials.iterator.map(emitTimeout(key, _))
    }

    ds.groupByKey(keyFn)(implicitly[Encoder[K]])
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }
}
