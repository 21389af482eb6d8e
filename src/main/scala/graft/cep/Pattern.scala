package graft.cep

import scala.concurrent.duration.Duration

/** CEP pattern definition (ref: flink-cep Pattern.java:156-480 — the
  * begin/next/followedBy/notNext/notFollowedBy/where/or/times/oneOrMore/
  * optional/consecutive/within builder surface, and aftermatch/ skip
  * strategies).
  *
  * Supported subset (SURVEY.md §2.11):
  *  - quantifiers: once, optional, oneOrMore, times(n), times(from,to),
  *    timesOrMore(n), greedy or reluctant, with `until` stop conditions;
  *  - contiguity: strict (`next`), relaxed (`followedBy`), plus
  *    `consecutive()` internal contiguity for loops; `followedByAny`
  *    and `allowCombinations` branch under the enumerating entry point
  *    [[NFA.findAllMatches]], while the first-match entry points
  *    ([[NFA.findMatches]] and friends) keep one greedy-first match per
  *    start;
  *  - negation: `notNext`, `notFollowedBy` (guard between positive
  *    stages; trailing notFollowedBy requires `within`);
  *  - `within` windowing and NO_SKIP / SKIP_PAST_LAST / SKIP_TO_FIRST /
  *    SKIP_TO_LAST after-match.
  */
object Quantifier {
  sealed trait Q { def min: Int; def max: Int }
  case object Once extends Q { val min = 1; val max = 1 }
  case object Optional extends Q { val min = 0; val max = 1 }
  case object OneOrMore extends Q { val min = 1; val max = Int.MaxValue }
  final case class Times(min: Int, max: Int) extends Q
}

sealed trait Contiguity
object Contiguity {
  /** `next` — the matching event must be the immediate successor. */
  case object Strict extends Contiguity
  /** `followedBy` — non-matching events may intervene. */
  case object Relaxed extends Contiguity
}

sealed trait AfterMatch
object AfterMatch {
  /** every start index may produce a match (ref: AfterMatchSkipStrategy.noSkip) */
  case object NoSkip extends AfterMatch
  /** restart after the last consumed event (ref: skipPastLastEvent) */
  case object SkipPastLast extends AfterMatch
  /** restart at the FIRST event bound to `variable` (ref: skipToFirst);
    * always advances at least one index past the previous start so a
    * self-referential skip cannot loop forever. */
  final case class SkipToFirst(variable: String) extends AfterMatch
  /** restart at the LAST event bound to `variable` (ref: skipToLast) */
  final case class SkipToLast(variable: String) extends AfterMatch
}

/** What an ITERATIVE condition can see at evaluation time (ref: flink-cep
  * IterativeCondition.Context, IterativeCondition.java:65-85 —
  * `filter(value, ctx)` with `ctx.getEventsForPattern("middle")`; plus
  * SQL row-pattern navigation PREV/NEXT over the input sequence). Built
  * lazily by the NFA for each candidate test; `bound` carries the
  * partial match's per-stage event indices INCLUDING the in-progress
  * loop's earlier takes.
  */
final class MatchContext[T] private[cep] (
    events: IndexedSeq[T],
    /** input-sequence index of the event under test */
    val idx: Int,
    bound: List[(String, Seq[Int])]) {
  /** the event `n` input rows before the one under test (SQL PREV —
    * INPUT navigation, independent of bindings); None off the front */
  def prev(n: Int = 1): Option[T] = {
    val j = idx - n; if (j >= 0 && j < events.length) Some(events(j)) else None
  }
  /** the event `n` input rows after the one under test (SQL NEXT) */
  def next(n: Int = 1): Option[T] = {
    val j = idx + n; if (j >= 0 && j < events.length) Some(events(j)) else None
  }
  /** events bound so far to `variable` in the current partial match
    * (ref: IterativeCondition.Context.getEventsForPattern — accepted
    * events only; the event under test is NOT included) */
  def eventsFor(variable: String): Seq[T] = indicesFor(variable).map(events(_))
  /** FIRST(variable) over the accepted events so far */
  def first(variable: String): Option[T] = indicesFor(variable).headOption.map(events(_))
  /** LAST(variable) over the accepted events so far */
  def last(variable: String): Option[T] = indicesFor(variable).lastOption.map(events(_))
  private def indicesFor(variable: String): Seq[Int] =
    bound.withFilter(_._1 == variable).flatMap(_._2)
}

/** One pattern stage. `negated` stages are guards: the pattern fails if
  * the guard matches in the gap its contiguity defines.
  */
final case class Stage[T](
    name: String,
    where: T => Boolean,
    quantifier: Quantifier.Q = Quantifier.Once,
    contiguity: Contiguity = Contiguity.Relaxed,
    /** contiguity INSIDE a loop quantifier (consecutive() ⇒ Strict) */
    innerContiguity: Contiguity = Contiguity.Relaxed,
    negated: Boolean = false,
    /** loop STOP condition (ref: Pattern.java:220 until()): once an event
      * matching it is reached, the loop accepts no further events. */
    until: Option[T => Boolean] = None,
    /** greedy loops backtrack longest-first, reluctant ones shortest-first:
      * the flag orders the loop lengths the NFA walker tries, so it picks
      * WHICH match a first-match entry point returns per start. */
    greedy: Boolean = true,
    /** alternation group `(A|B)` (ref: NFACompiler GroupPattern; SQL row
      * pattern alternation): the stage accepts an event iff SOME
      * alternative does, and the event binds under the FIRST matching
      * alternative's name — SQL's lexicographic preference for
      * overlapping defines. Empty = plain single-variable stage. */
    alternatives: Seq[(String, T => Boolean)] = Nil,
    /** followedByAny (ref: Pattern.followedByAny / the kept "ignore"
      * edge on matching events): under [[NFA.findAllMatches]] EVERY
      * matching candidate branches, not just the first — one match per
      * alternative binding. Cleared by the first-match entry points. */
    anyMatch: Boolean = false,
    /** allowCombinations (ref: Quantifier.ALLOW_COMBINATIONS): under
      * [[NFA.findAllMatches]] a loop may take any in-order SUBSEQUENCE
      * of its matching events (gaps over matching events allowed), not
      * only contiguous runs. Cleared by the first-match entry points. */
    combinations: Boolean = false,
    /** ITERATIVE condition (ref: IterativeCondition.java:65-85): a
      * predicate over (event, [[MatchContext]]) — the context exposes
      * the partial match's bound events and input-order navigation.
      * ANDed with `where`; evaluated by the NFA per candidate test. */
    whereCtx: Option[(T, MatchContext[T]) => Boolean] = None
) {
  def or(p: T => Boolean): Stage[T] = copy(where = e => where(e) || p(e))
  /** Combined row-local + iterative test; `ctx` built only when needed. */
  def test(e: T, ctx: => MatchContext[T]): Boolean =
    where(e) && whereCtx.forall(_(e, ctx))
}

object Stage {
  /** Build an alternation-group stage from its alternatives. */
  def oneOf[T](alts: Seq[(String, T => Boolean)], contiguity: Contiguity): Stage[T] =
    Stage[T](alts.map(_._1).mkString("|"),
      e => alts.exists(_._2(e)), contiguity = contiguity, alternatives = alts)
}

final case class Pattern[T](
    stages: Vector[Stage[T]],
    withinMs: Option[Long] = None,
    afterMatch: AfterMatch = AfterMatch.NoSkip,
    comboTailCap: Int = NFA.combinationTailCap
) {
  /** allowCombinations choice-point bound for THIS pattern (default
    * [[NFA.combinationTailCap]]): a loop stage enumerates subsequences
    * of at most `n` matching tail events per anchor; anchors whose tail
    * exceeds it are truncated and counted in
    * [[NFA.tailTruncationCount]] — observable loss, not a silent cap.
    */
  def combinationTailCap(n: Int): Pattern[T] = {
    require(n > 0, s"combinationTailCap must be positive, got $n")
    copy(comboTailCap = n)
  }

  private def updLast(f: Stage[T] => Stage[T]): Pattern[T] =
    copy(stages = stages.init :+ f(stages.last))

  def where(p: T => Boolean): Pattern[T] =
    updLast(s => s.copy(where = e => s.where(e) && p(e)))
  /** ITERATIVE condition on the last stage (ref: Pattern.where with an
    * IterativeCondition, IterativeCondition.java:65-85): the predicate
    * additionally sees the events the partial match has bound so far
    * via [[MatchContext]] — `ctx.eventsFor("middle")`, `ctx.prev()`.
    * ANDs with any existing conditions on the stage.
    */
  def where(p: (T, MatchContext[T]) => Boolean): Pattern[T] =
    updLast(s => s.copy(whereCtx = s.whereCtx match {
      case Some(q) => Some((e, c) => q(e, c) && p(e, c))
      case None    => Some(p)
    }))
  def or(p: T => Boolean): Pattern[T] = updLast(_.or(p))

  def next(name: String): Pattern[T] =
    copy(stages = stages :+ Stage[T](name, _ => true, contiguity = Contiguity.Strict))
  def followedBy(name: String): Pattern[T] =
    copy(stages = stages :+ Stage[T](name, _ => true, contiguity = Contiguity.Relaxed))
  /** relaxed contiguity, ALL matching candidates branch under the
    * enumerating matcher (ref: Pattern.followedByAny) */
  def followedByAny(name: String): Pattern[T] =
    copy(stages = stages :+ Stage[T](name, _ => true,
      contiguity = Contiguity.Relaxed, anyMatch = true))
  /** the preceding loop may take any in-order subsequence under the
    * enumerating matcher (ref: oneOrMore().allowCombinations()) */
  def allowCombinations: Pattern[T] = updLast(_.copy(combinations = true))
  def notNext(name: String): Pattern[T] =
    copy(stages = stages :+ Stage[T](name, _ => true, contiguity = Contiguity.Strict, negated = true))
  def notFollowedBy(name: String): Pattern[T] =
    copy(stages = stages :+ Stage[T](name, _ => true, contiguity = Contiguity.Relaxed, negated = true))

  def optional: Pattern[T] = updLast(_.copy(quantifier = Quantifier.Optional))
  def oneOrMore: Pattern[T] = updLast(_.copy(quantifier = Quantifier.OneOrMore))
  def times(n: Int): Pattern[T] = updLast(_.copy(quantifier = Quantifier.Times(n, n)))
  def times(from: Int, to: Int): Pattern[T] = updLast(_.copy(quantifier = Quantifier.Times(from, to)))
  /** n or more occurrences — `{n,}` (ref: Pattern.timesOrMore) */
  def timesOrMore(n: Int): Pattern[T] = updLast(_.copy(quantifier = Quantifier.Times(n, Int.MaxValue)))
  /** strict contiguity inside the preceding loop quantifier */
  def consecutive: Pattern[T] = updLast(_.copy(innerContiguity = Contiguity.Strict))
  /** stop condition for the preceding loop (ref: Pattern.java:220) */
  def until(p: T => Boolean): Pattern[T] = updLast(_.copy(until = Some(p)))
  /** longest-first loop preference — the default (ref: Pattern.greedy) */
  def greedy: Pattern[T] = updLast(_.copy(greedy = true))
  /** shortest-first loop preference (SQL reluctant quantifiers `+?`) */
  def reluctant: Pattern[T] = updLast(_.copy(greedy = false))

  def within(d: Duration): Pattern[T] = copy(withinMs = Some(d.toMillis))
  def afterMatchSkipPastLast: Pattern[T] = copy(afterMatch = AfterMatch.SkipPastLast)
  def afterMatchSkipToFirst(v: String): Pattern[T] = copy(afterMatch = AfterMatch.SkipToFirst(v))
  def afterMatchSkipToLast(v: String): Pattern[T] = copy(afterMatch = AfterMatch.SkipToLast(v))
}

object Pattern {
  def begin[T](name: String): Pattern[T] =
    Pattern(Vector(Stage[T](name, _ => true, contiguity = Contiguity.Relaxed)))
}

/** A completed match: stage name → matched events in order. `indices`
  * carries each binding's position in the sorted per-key sequence (used
  * by SKIP_TO_FIRST/LAST and ALL ROWS PER MATCH row ordering).
  */
final case class PatternMatch[T](bindings: Map[String, Seq[T]], startIdx: Int, endIdx: Int,
    indices: Map[String, Seq[Int]] = Map.empty) {
  /** matched (stageName, event) rows in sequence order — the ALL ROWS
    * PER MATCH view; gap events skipped by relaxed contiguity are not
    * part of the match and do not appear. */
  def rows: Seq[(String, T)] =
    bindings.keys.toSeq
      .flatMap(s => indices(s).zip(bindings(s)).map { case (i, e) => (i, s, e) })
      .sortBy(_._1)
      .map { case (_, s, e) => (s, e) }
}
