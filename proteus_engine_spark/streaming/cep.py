"""CEP subset: sequential pattern matching with contiguity modes and a
time bound, on batch and streaming DataFrames.

Reference: flink-libraries/flink-cep — Pattern.begin/next/followedBy/where/
within (pattern/Pattern.java:123–536), notNext (:267), notFollowedBy
(:298), CEP.pattern (CEP.java:38), PatternStream.select
(PatternStream.java:92), NFA runtime (cep/nfa/NFA.java). Scope: begin,
next (strict), followedBy (relaxed), followedByAny (skip-till-any-match),
notNext / notFollowedBy (negation, incl. trailing absence-with-within),
within, times/timesOrMore/oneOrMore/optional quantifiers, consecutive(),
until (loop stop), greedy (maximal consecutive runs, Pattern.java:361),
AfterMatchSkipStrategy (nfa/AfterMatchSkipStrategy.java — no_skip /
skip_past_last_event / skip_to_first / skip_to_last, pruned at emission
time exactly as the reference does), and where/or/subtype condition
composition (Pattern.java:123/142/166 — subtype as the discriminator
conjunction). The full Pattern surface is covered.

Match semantics (mirrors the reference NFA defaults): every event
satisfying step 0 opens a partial match; `next` requires the immediately
following event (per key, event-time order) to satisfy the step or the
partial dies; `followedBy` skips non-matching events and consumes the
FIRST matching one; `within` bounds last.ts - first.ts. By default
overlapping matches are all emitted (NoSkipStrategy); Pattern.
after_match_skip selects the other skip strategies.

Implementation: the NFA transition core is a pure function over a sorted
per-key event list; batch runs it inside applyInPandas (one shuffle on the
key), streaming inside applyInPandasWithState with open partials carried in
state. At 100 TB the per-key sort is the only superlinear cost — the same
bound the reference's keyed NFA state has.

Time model: event time is quantized to MILLISECONDS on entry (reference
parity — Flink timestamps are epoch-ms longs throughout the DataStream
API), so ordering ties within one millisecond break on event_id and every
*_ts output column is epoch-ms. Two source events whose timestamps differ
only in sub-ms digits are SIMULTANEOUS to the NFA, exactly as they would
be to the reference. The registry oracles mirror this EXACTLY — every
ts comparison and ordering key is quantized through epoch_ms() before the
event_id tiebreak (r12 sweep, all 19 CEP gates re-verified) — so a corpus
with sub-ms ties hashes identically on both engines. The OVER/sort family
(streaming/stateful.py) deliberately keeps µs precision instead: Spark's
native windows are µs-exact and those oracles compare raw ts."""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Step:
    name: str
    predicate: Callable[[pd.Series], bool]
    # 'begin' | 'next' | 'followedBy' | 'followedByAny' | 'notNext' |
    # 'notFollowedBy'
    contiguity: str = "followedBy"
    expr: str | None = None  # optional Spark SQL mirror of `predicate`
    # Quantifier (Pattern.java:274–536 parity):
    #   'single'      — exactly one event (default)
    #   'times'       — exactly times_n events (Pattern.times(int))
    #   'oneOrMore'   — 1+ events, a match emitted per prefix (oneOrMore())
    #   'timesOrMore' — times_n+ events (Pattern.timesOrMore(int))
    #   'optional'    — zero or one event (optional())
    quantifier: str = "single"
    times_n: int = 1
    # range ceiling for times(from, to) (Pattern.java's range overload):
    # None = exact times_n; set = loop capped at times_max with a match
    # per count in [times_n, times_max] (per-prefix exits above the floor)
    times_max: int | None = None
    # strict contiguity BETWEEN repeats of a looping step
    # (Pattern.consecutive(), Pattern.java:462)
    consecutive: bool = False
    # loop stop condition (Pattern.until, Pattern.java:214): an event
    # satisfying it closes a oneOrMore/timesOrMore loop without being
    # consumed by it
    until_pred: Callable[[pd.Series], bool] | None = None
    until_expr: str | None = None
    # greedy loop (Pattern.greedy, Pattern.java:361): consume as many
    # events as possible — no per-prefix exit branches; the loop hands off
    # to the next step only when an event breaks the run
    greedy: bool = False
    # skip-till-any between loop repeats (Pattern.allowCombinations,
    # Pattern.java:347): on a repeat match the un-extended loop branch
    # also survives, so later matching events can be taken with gaps —
    # every combination containing the first loop event matches
    combinations: bool = False
    # -- state-counted GROUP loop (GroupPattern.java:42: the reference
    # carries the group's repeat count in NFA state; NFACompiler wires the
    # group's last state back to its first — UNIFORMLY for every group
    # quantifier, which r14 matches: times/optional/capped-oneOrMore are
    # state-counted too, not enumerated variants). Set on the LAST inner
    # step of a quantified group: index of the group's FIRST inner step
    # to loop back to, and the group's id for repeat-count bookkeeping
    # (__gcnt__{gid} in the match's events dict).
    group_loop_to: int | None = None
    # exact repeat target (GroupPattern times(n)): loop back while the
    # state count < n, exit the group ONLY at exactly n — no per-prefix
    # matches. None for oneOrMore semantics (exit at every repeat).
    group_times: int | None = None
    # repeat ceiling (one_or_more(max_repeats=N)): exit at every repeat
    # (per-prefix, oneOrMore semantics) but stop looping at N.
    group_max: int | None = None
    # set on the FIRST inner step of an optional() group: fresh entry
    # forks a twin that skipped the whole group to this step index
    # (fork-on-entry, the step-level optional discipline; loop-back
    # re-entries never re-fork). The twin records __gcnt__{gid} = 0.
    group_skip_to: int | None = None
    # set on EVERY inner step of such a group (adds {name}_cnt columns)
    group_id: int | None = None
    # set on the FIRST inner step: strict (next) chaining between repeats
    # (GroupPattern.consecutive), distinct from the attach contiguity that
    # gates repeat 0
    group_between_strict: bool = False
    # set on the FIRST inner step (GroupPattern.allow_combinations —
    # the group twin of Pattern.allowCombinations, Pattern.java:347):
    # skip-till-ANY between repeats — a loop-back partial that consumes
    # a repeat-starting event also forks a twin that did NOT, so every
    # combination of non-overlapping repeats matches (the opt-in the
    # r15 followedByAny-fork fix requires, matching the reference's
    # strategy table)
    group_combinations: bool = False


@dataclass
class Pattern:
    """Pattern.begin(...).next/.followedBy(...).times/.oneOrMore/.optional
    (...).within(...)

    Each step takes the row predicate as a Python callable plus an optional
    ``expr`` — a Spark SQL string with the same semantics. When every step
    is relaxed-contiguity (begin/followedBy, no consecutive() repeats) and
    every step carries an expr, the engine pre-filters the input to
    ``OR``-of-exprs JVM-side before the Python NFA: relaxed contiguity
    skips non-matching rows anyway, so dropping them early is
    semantics-preserving predicate pushdown — at scale this turns "ship
    every event to Python" into "ship only candidate events". Patterns with
    a `next` step or consecutive() repeats disable the prefilter (strict
    contiguity must see every row).

    Quantifiers (applied to the most recently added step, like the
    reference's fluent API, Pattern.java:274–536):
    - ``times(n)``: the step matches exactly n events. Repeat contiguity is
      relaxed by default; ``consecutive=True`` (or a `next` step) requires
      the n events to be adjacent per key.
    - ``one_or_more()``: 1+ events; like the reference's default (non-greedy
      accumulating) semantics a match is emitted for EVERY prefix count.
    - ``optional()``: the step may be skipped — both the with- and without-
      branch can produce matches. Not allowed on the first step or on a
      `next` step (same restrictions the reference enforces via
      MalformedPatternException).
    """

    steps: list[Step] = field(default_factory=list)
    within_ms: int | None = None
    skip_strategy: tuple | None = None

    @staticmethod
    def begin(
        name: str, predicate: Callable[[pd.Series], bool], expr: str | None = None
    ) -> "Pattern":
        return Pattern(steps=[Step(name, predicate, "begin", expr)])

    def next(
        self, name: str, predicate: Callable[[pd.Series], bool], expr: str | None = None
    ) -> "Pattern":
        self.steps.append(Step(name, predicate, "next", expr))
        return self

    def followed_by(
        self, name: str, predicate: Callable[[pd.Series], bool], expr: str | None = None
    ) -> "Pattern":
        self.steps.append(Step(name, predicate, "followedBy", expr))
        return self

    def followed_by_any(
        self, name: str, predicate: Callable[[pd.Series], bool], expr: str | None = None
    ) -> "Pattern":
        """Pattern.followedByAny (Pattern.java:316): skip-till-ANY-match —
        on a matching event the un-advanced partial survives alongside the
        advanced branch, so EVERY later matching event also produces a
        match (followedBy consumes only the first)."""
        self.steps.append(Step(name, predicate, "followedByAny", expr))
        return self

    def times_or_more(self, n: int, consecutive: bool = False) -> "Pattern":
        """Pattern.timesOrMore(int) (Pattern.java:396): last step matches n
        or more events; like oneOrMore, a match is emitted per prefix once
        the floor is reached."""
        if n < 1:
            raise ValueError("times_or_more(n) requires n >= 1")
        if self.steps[-1].contiguity in ("notNext", "notFollowedBy"):
            raise ValueError("quantifiers are not supported on negative steps")
        self.steps[-1] = replace(
            self.steps[-1], quantifier="timesOrMore", times_n=n, consecutive=consecutive
        )
        return self

    def until(
        self, predicate: Callable[[pd.Series], bool], expr: str | None = None
    ) -> "Pattern":
        """Pattern.until (Pattern.java:214): an event satisfying the
        condition closes the last step's loop without being consumed by it
        (prefix branches already spawned live on; a loop with no matches
        yet dies). Only valid on a looping step, like the reference."""
        last = self.steps[-1]
        if last.quantifier not in ("oneOrMore", "timesOrMore"):
            raise ValueError("until() requires a looping step (oneOrMore/timesOrMore)")
        if last.greedy:
            raise ValueError("until() on a greedy loop is not supported")
        self.steps[-1] = replace(last, until_pred=predicate, until_expr=expr)
        return self

    def allow_combinations(self) -> "Pattern":
        """Pattern.allowCombinations (Pattern.java:347): relaxes the
        contiguity BETWEEN loop repeats to skip-till-any — after the first
        loop event, every later matching event can either extend a branch
        or be skipped by it, so all combinations that contain the first
        matched loop event are emitted (FlinkCEP docs' combinations table:
        input a1 a2 a3 → a1; a1 a2; a1 a3; a1 a2 a3). The first event is
        still pinned by the step's own entry contiguity (followedBy takes
        the first matching event; use followedByAny for any-entry).
        Exponential branch growth is inherent — the reference carries the
        same warning. Not combinable with consecutive() (strict repeats
        contradict skipping) or greedy()."""
        last = self.steps[-1]
        if last.quantifier not in ("oneOrMore", "timesOrMore"):
            raise ValueError("allow_combinations() requires a looping step (oneOrMore/timesOrMore)")
        if last.consecutive:
            # also excludes greedy loops: greedy() requires consecutive()
            raise ValueError("allow_combinations() with consecutive() is contradictory")
        self.steps[-1] = replace(last, combinations=True)
        return self

    def greedy(self) -> "Pattern":
        """Pattern.greedy (Pattern.java:361): the last step's loop consumes
        as many events as possible. No per-prefix exit branches are
        spawned; the partial leaves the loop only when an event breaks the
        run — that breaking event is offered to the following step (so
        `followed_by` after a greedy loop matches the FIRST later event,
        and `next` requires the breaking event itself to match). Engine
        restriction (keeps the semantics crisp and oracle-checkable):
        greedy requires consecutive() repeats — a maximal CONTIGUOUS run —
        and, like the reference (FLINK-8914), cannot be the pattern's last
        step; until() is not combinable."""
        last = self.steps[-1]
        if last.quantifier not in ("oneOrMore", "timesOrMore"):
            raise ValueError("greedy() requires a looping step (oneOrMore/timesOrMore)")
        if not last.consecutive:
            raise ValueError("greedy() requires consecutive() repeats (maximal contiguous run)")
        if last.until_pred is not None:
            raise ValueError("greedy() with until() is not supported")
        self.steps[-1] = replace(last, greedy=True)
        return self

    def not_next(
        self, name: str, predicate: Callable[[pd.Series], bool], expr: str | None = None
    ) -> "Pattern":
        """Pattern.notNext (Pattern.java:267): the event immediately after
        the previous step's match must NOT satisfy the predicate; that same
        event is then offered to the following step. Negative steps never
        consume an event and emit no match columns. Cannot be the last step
        (the reference raises MalformedPatternException for trailing
        NOT_NEXT too)."""
        self._check_negation_position("not_next")
        self.steps.append(Step(name, predicate, "notNext", expr))
        return self

    def not_followed_by(
        self, name: str, predicate: Callable[[pd.Series], bool], expr: str | None = None
    ) -> "Pattern":
        """Pattern.notFollowedBy (Pattern.java:298): no event satisfying the
        predicate may occur between the previous step's match and the next
        step's match. As the LAST step it requires within() — the absence
        is confirmed when the window expires unviolated (the reference only
        allows trailing NOT_FOLLOW with a window bound as well), triggered
        like the timeout side-output: by a later same-key event passing the
        window edge."""
        self._check_negation_position("not_followed_by")
        self.steps.append(Step(name, predicate, "notFollowedBy", expr))
        return self

    def _check_negation_position(self, fn: str) -> None:
        if not self.steps:
            raise ValueError(f"{fn}() cannot start a pattern (begin is required)")
        if self.steps[-1].contiguity in ("notNext", "notFollowedBy"):
            raise ValueError("consecutive negative steps are not supported")

    def times(
        self, n: int, *, to: int | None = None, consecutive: bool = False
    ) -> "Pattern":
        """Pattern.times(int) (Pattern.java:274): last step matches exactly
        n events; with ``to``, the range overload Pattern.times(int from,
        int to) — between n and ``to`` events, a match emitted per count
        in the range (per-prefix exits above the floor, loop capped at
        the ceiling). consecutive=True adds Pattern.consecutive()
        semantics to the repeats either way. ``to`` and ``consecutive``
        are keyword-only: ``to`` took the positional slot ``consecutive``
        held before the range overload existed, so a legacy positional
        ``times(n, True)`` must raise instead of being silently
        reinterpreted as ``times(n, to=1)`` (r15 advice)."""
        if n < 1:
            raise ValueError("times(n) requires n >= 1")
        if to is not None and to < n:
            raise ValueError("times(n, to) requires to >= n")
        if self.steps[-1].contiguity in ("notNext", "notFollowedBy"):
            raise ValueError("quantifiers are not supported on negative steps")
        self.steps[-1] = replace(
            self.steps[-1], quantifier="times", times_n=n,
            times_max=to, consecutive=consecutive,
        )
        return self

    def one_or_more(self, consecutive: bool = False) -> "Pattern":
        """Pattern.oneOrMore() (Pattern.java:332): last step matches 1+
        events, emitting a match per prefix."""
        if self.steps[-1].contiguity in ("notNext", "notFollowedBy"):
            raise ValueError("quantifiers are not supported on negative steps")
        self.steps[-1] = replace(
            self.steps[-1], quantifier="oneOrMore", consecutive=consecutive
        )
        return self

    def optional(self) -> "Pattern":
        """Pattern.optional() (Pattern.java:312): last step may be skipped."""
        last = self.steps[-1]
        if len(self.steps) == 1:
            raise ValueError("optional() is not supported on the first step")
        if last.contiguity == "next":
            raise ValueError("optional() is not supported on a next() step")
        if last.contiguity in ("notNext", "notFollowedBy"):
            raise ValueError("quantifiers are not supported on negative steps")
        self.steps[-1] = replace(last, quantifier="optional")
        return self

    def within(self, ms: int) -> "Pattern":
        self.within_ms = ms
        return self

    def where(
        self, predicate: Callable[[pd.Series], bool], expr: str | None = None
    ) -> "Pattern":
        """Pattern.where (Pattern.java:123): AND another condition into the
        last step (repeated where() calls conjoin, as the reference's
        AndCondition does). The SQL mirror composes too, so prefilter
        pushdown stays exact."""
        return self._compose_condition(predicate, expr, "and")

    def or_where(
        self, predicate: Callable[[pd.Series], bool], expr: str | None = None
    ) -> "Pattern":
        """Pattern.or (Pattern.java:142): OR another condition into the
        last step (OrCondition)."""
        return self._compose_condition(predicate, expr, "or")

    def subtype(
        self, predicate: Callable[[pd.Series], bool], expr: str | None = None
    ) -> "Pattern":
        """Pattern.subtype (Pattern.java:166): restrict the last step to a
        subtype of the stream's event type. Rows are not polymorphic, so
        the subtype check is a discriminator predicate (e.g. a type
        column) ANDed into the step — the SubtypeCondition is literally an
        instanceof predicate in the reference too. Conditions added after
        subtype() keep conjoining, matching the reference's
        subtype-then-where chaining."""
        return self._compose_condition(predicate, expr, "and")

    def _compose_condition(
        self, predicate: Callable[[pd.Series], bool], expr: str | None, mode: str
    ) -> "Pattern":
        last = self.steps[-1]
        if last.contiguity in ("notNext", "notFollowedBy"):
            # the reference composes conditions on negative patterns too;
            # supported the same way — the guard predicate is refined
            pass
        old_pred, new_pred = last.predicate, predicate
        if mode == "and":
            combined = lambda r: bool(old_pred(r)) and bool(new_pred(r))  # noqa: E731
        else:
            combined = lambda r: bool(old_pred(r)) or bool(new_pred(r))  # noqa: E731
        if last.expr is not None and expr is not None:
            combined_expr = f"(({last.expr}) {mode.upper()} ({expr}))"
        else:
            # one side undeclared → the composed step has no sound SQL
            # mirror; prefilter pushdown disables itself for this step
            combined_expr = None
        self.steps[-1] = replace(last, predicate=combined, expr=combined_expr)
        return self

    def prefilter_expr(self) -> str | None:
        """OR-of-step-exprs when pushdown is sound (all relaxed, all
        declared), else None. Negative-step exprs are INCLUDED in the OR —
        forbidden events must reach the NFA to kill partials. Unsound and
        disabled when: any strict step (next/consecutive — must see every
        row), any notNext (its guard inspects the literal next event), or a
        trailing notFollowedBy (its completion is triggered by ANY later
        same-key event passing the window, which the filter could drop)."""
        if any(
            s.contiguity in ("next", "notNext") or s.consecutive
            or s.group_between_strict
            for s in self.steps
        ):
            # group_between_strict = a GroupPattern.consecutive() compiled
            # in: strict chaining BETWEEN repeats must see every row too
            return None
        if self.steps and self.steps[-1].contiguity == "notFollowedBy":
            return None
        if any(s.expr is None for s in self.steps):
            return None
        # until-stop events must reach the NFA too
        if any(s.until_pred is not None and s.until_expr is None for s in self.steps):
            return None
        exprs = [s.expr for s in self.steps] + [
            s.until_expr for s in self.steps if s.until_expr is not None
        ]
        return " OR ".join(f"({e})" for e in exprs)

    def after_match_skip(
        self, strategy: str, pattern_name: str | None = None
    ) -> "Pattern":
        """AfterMatchSkipStrategy (nfa/AfterMatchSkipStrategy.java:33-69):
        what happens to LIVE PARTIAL matches when a match is emitted —
        - "no_skip" (default): nothing; every match is found.
        - "skip_past_last_event": partials containing ANY event of the
          emitted match die; matching effectively restarts after it.
        - "skip_to_first"/"skip_to_last" + pattern_name: partials that
          STARTED before the first/last event mapped to `pattern_name` in
          the emitted match die.
        Matches completing on the same event are all emitted before
        pruning applies (emission happens per element, pruning after).
        The emitted match set under any strategy is a subset of no_skip's.
        """
        kinds = ("no_skip", "skip_past_last_event", "skip_to_first", "skip_to_last")
        if strategy not in kinds:
            raise ValueError(f"unknown skip strategy {strategy!r}: one of {kinds}")
        if strategy in ("skip_to_first", "skip_to_last"):
            if pattern_name is None:
                # AfterMatchSkipStrategy.java:77 throws on a null name
                raise ValueError(f"{strategy} requires a pattern_name")
        elif pattern_name is not None:
            raise ValueError(f"{strategy} takes no pattern_name")
        self.skip_strategy = (strategy, pattern_name)
        return self

    def validate(self) -> None:
        """Structural checks applied at match time (within() may be added
        after the negative step, so construction-time checks can't cover
        these)."""
        if not self.steps:
            raise ValueError("empty pattern")
        last = self.steps[-1]
        if last.contiguity == "notNext":
            raise ValueError("notNext cannot be the last step")
        if last.contiguity == "notFollowedBy" and self.within_ms is None:
            raise ValueError("a trailing notFollowedBy requires within()")
        if last.greedy:
            # FLINK-8914 parity: a greedy loop needs a following step to
            # hand the run-breaking event to.
            raise ValueError("a greedy loop cannot be the last step")
        if self.skip_strategy and self.skip_strategy[1] is not None:
            names = {st.name for st in self.steps}
            if self.skip_strategy[1] not in names:
                raise ValueError(
                    f"skip strategy references unknown pattern {self.skip_strategy[1]!r}"
                )


def _run_nfa(
    events: pd.DataFrame,
    pattern: Pattern,
    ts_col: str,
    id_col: str,
    partials: list[dict] | None = None,
) -> tuple[list[dict], list[dict], list[dict]]:
    """Pure NFA scan over one key's time-ordered events. Returns (matches,
    open partials, timed-out partials); matches are {step_name: (event_id,
    ts_millis, repeat_count)}, timed-out partials additionally carry
    "__timeout_ts__". `partials` seeds state carried from a previous
    micro-batch.

    Quantifier semantics (flink-cep NFA parity, NFAITCase.java):
    - times(n): the step accumulates n matching events before the partial
      advances; a non-matching event kills the partial only under strict
      contiguity (first repeat: the step's own contiguity; later repeats:
      consecutive()).
    - oneOrMore: every matching event both extends the loop AND branches a
      partial into the next step (or emits, if last) — one match per
      prefix, the reference's default accumulating semantics.
    - optional: when a partial ENTERS an optional step it forks a twin that
      skipped the step (fork-on-entry, not per event — otherwise every
      non-matching event would spawn a duplicate skip branch).

    Hot path: rows are plain dicts (predicates index by column name) and
    the event-time millis column is vectorized up front — no pandas object
    construction per row.
    """
    # Structural problems (unknown skip-strategy reference, trailing
    # greedy, ...) must surface at the entry point, not as executor-side
    # data-time errors — the runtime prune degrades gracefully instead.
    pattern.validate()
    ts_ms = events[ts_col].values.astype("datetime64[ms]").astype("int64").tolist()
    rows = events.to_dict("records")
    return _scan(rows, ts_ms, pattern, id_col, partials)


def _scan(
    rows: list[dict],
    ts_ms: list[int],
    pattern: Pattern,
    id_col: str,
    partials: list[dict] | None = None,
) -> tuple[list[dict], list[dict], list[dict]]:
    """NFA core over pre-extracted (row dict, epoch-ms) pairs — shared by
    the batch path (_run_nfa) and the watermark-buffered streaming path,
    which feeds released events directly as dicts."""
    matches: list[dict] = []
    timeouts: list[dict] = []
    partials = list(partials or [])
    steps = pattern.steps
    n_steps = len(steps)

    # interior-optional inner steps per group (r16): their entries are
    # cleared on every group loop-back so the projected columns reflect
    # the LAST repeat only (a repeat that skips its optional step must
    # report NULLs, not the previous repeat's leftover event)
    group_opt_names: dict[int, list[str]] = {}
    for _st in steps:
        if _st.group_id is not None and _st.quantifier == "optional":
            group_opt_names.setdefault(_st.group_id, []).append(_st.name)

    def exit_step(step: Step, p_idx: int, ev_done: dict, t0: int, out: list[dict]) -> None:
        """A step's quantifier just completed (or emitted a per-prefix
        exit). Plain step: land past it. When the step carries the GROUP
        loop wiring (last inner step of a quantified group,
        GroupPattern.java:42), close one GROUP repeat instead: bump the
        state-carried count, loop back while below the ceiling
        (group_max = range 'to' / oneOrMore cap, else group_times for
        exact times(n)), and exit past the group at every count at or
        above the floor (group_times; None = oneOrMore per-prefix exits).
        With an inner counting quantifier on this step (r16) the partial's
        own cnt nests under the group count — the loop-back resets cnt to
        0 so each group repeat restarts the inner loop. ev_done may be
        shared with a live inner-loop branch, so the count bump goes on a
        copy."""
        if step.group_loop_to is None:
            place({"idx": p_idx + 1, "cnt": 0, "events": ev_done, "t0": t0}, out)
            return
        gk = f"__gcnt__{step.group_id}"
        ev2 = dict(ev_done)
        gcnt = ev2.get(gk, 0) + 1
        ev2[gk] = gcnt
        cap = step.group_max if step.group_max is not None else step.group_times
        if cap is None or gcnt < cap:
            ev_loop = ev2
            opts = group_opt_names.get(step.group_id)
            if opts:
                # fresh repeat: clear interior-optional entries so a
                # skipping repeat reports NULLs (repeat-stable columns
                # mean the LAST repeat's events, not a stale earlier one)
                ev_loop = dict(ev2)
                for nm in opts:
                    ev_loop.pop(nm, None)
            out.append({
                "idx": step.group_loop_to, "cnt": 0, "events": ev_loop,
                "t0": t0, "gloop": True,
            })
        if step.group_times is None or gcnt >= step.group_times:
            place({"idx": p_idx + 1, "cnt": 0, "events": dict(ev2), "t0": t0}, out)

    def place(p: dict, out: list[dict]) -> None:
        """Land a partial at p['idx']: complete it, or enqueue it — forking
        a skip-twin when the step it entered is optional, or the entry of
        an optional GROUP (whole-group skip to past the group; recursive,
        so chained optional groups cascade their skips)."""
        if p["idx"] == n_steps:
            matches.append(p["events"])
            return
        out.append(p)
        st = steps[p["idx"]]
        if st.quantifier == "optional":
            if st.group_loop_to is not None:
                # optional on a quantified group's TAIL step (r17): the
                # skip twin must CLOSE the group repeat, not bypass the
                # loop wiring — route it through exit_step, so a repeat
                # may end right after its penultimate step (fork-on-
                # entry, per repeat, like interior optional)
                exit_step(st, p["idx"], dict(p["events"]), p["t0"], out)
            else:
                place({"idx": p["idx"] + 1, "cnt": 0, "events": dict(p["events"]), "t0": p["t0"]}, out)
        if st.group_skip_to is not None:
            ev = dict(p["events"])
            ev[f"__gcnt__{st.group_id}"] = 0  # skipped group: cnt 0, NULL ids
            place({"idx": st.group_skip_to, "cnt": 0, "events": ev, "t0": p["t0"]}, out)

    def advance(p: dict, s: dict, t: int, eid: int, out: list[dict]) -> None:
        """Feed one event to one partial; surviving/forked partials go to
        `out`, completions to `matches`."""
        step = steps[p["idx"]]
        if step.contiguity in ("notNext", "notFollowedBy"):
            if bool(step.predicate(s)):
                return  # forbidden event observed → partial dies
            if step.contiguity == "notNext":
                # Single-event guard satisfied; this same event is offered
                # to the following step (negative steps never consume).
                advance(
                    {"idx": p["idx"] + 1, "cnt": 0, "events": dict(p["events"]), "t0": p["t0"]},
                    s, t, eid, out,
                )
            else:
                nxt_idx = p["idx"] + 1
                if nxt_idx == n_steps:
                    out.append(p)  # trailing guard: survives until expiry
                elif bool(steps[nxt_idx].predicate(s)):
                    # Guard holds and the next positive step consumes this
                    # event; quantifier handling happens in the recursive
                    # call's matched branch. (Once the positive step starts
                    # accumulating repeats the guard is released — same
                    # simplification as grouping the guard with the first
                    # repeat.)
                    advance(
                        {"idx": nxt_idx, "cnt": 0, "events": dict(p["events"]), "t0": p["t0"]},
                        s, t, eid, out,
                    )
                else:
                    out.append(p)  # irrelevant event: guard persists
            return
        if (
            step.quantifier in ("oneOrMore", "timesOrMore")
            and step.until_pred is not None
            and bool(step.until_pred(s))
        ):
            # Pattern.until: the stop event closes the loop without being
            # consumed by it. Prefix branches spawned by earlier repeats
            # live on as separate partials; this looping branch dies (a
            # loop with zero matches so far can never reach its floor).
            return
        matched = bool(step.predicate(s))
        t0 = p["t0"] if p["t0"] is not None else t
        if matched:
            cnt = p["cnt"] + 1
            ev = dict(p["events"])
            ev[step.name] = (eid, t, cnt)
            # full consumed-event set + per-step first event, carried
            # inside the events dict so every fork's dict() copy
            # propagates them — AfterMatchSkipStrategy needs real event
            # identity (interval overlap is NOT equivalent under relaxed
            # contiguity), and per-step first for SKIP_TO_FIRST
            ev["__ids__"] = ev.get("__ids__", ()) + ((t, eid),)
            if cnt == 1 and step.name not in ev.get("__first__", {}):
                # first event EVER mapped to this step name — group
                # loop-backs re-enter the same-named step with cnt reset,
                # and SKIP_TO_FIRST must still see the first repeat's event
                ev["__first__"] = {**ev.get("__first__", {}), step.name: (eid, t)}
            if step.quantifier == "oneOrMore":
                # extend the loop AND branch past the step (prefix match);
                # greedy spawns NO prefix branches — the loop exits only in
                # the not-matched arm below, when an event breaks the run.
                # Every exit routes through exit_step: a plain step lands
                # past itself, a group-tail step closes a GROUP repeat.
                out.append({"idx": p["idx"], "cnt": cnt, "events": ev, "t0": t0})
                if not step.greedy:
                    exit_step(step, p["idx"], ev, t0, out)
                if step.combinations and p["cnt"] >= 1:
                    # allowCombinations: the branch that SKIPS this repeat
                    # survives (skip-till-any between repeats; the first
                    # repeat stays pinned by the entry contiguity)
                    out.append(p)
            elif step.quantifier == "timesOrMore":
                # loop always extends; prefix branches only at/after floor
                out.append({"idx": p["idx"], "cnt": cnt, "events": ev, "t0": t0})
                if cnt >= step.times_n and not step.greedy:
                    exit_step(step, p["idx"], ev, t0, out)
                if step.combinations and p["cnt"] >= 1:
                    out.append(p)
            elif step.quantifier == "times" and step.times_max is not None:
                # range times(from, to): loop below the ceiling, exit at
                # every count at or above the floor — a match per count
                # in [from, to], the timesOrMore discipline with a cap
                if cnt < step.times_max:
                    out.append({"idx": p["idx"], "cnt": cnt, "events": ev, "t0": t0})
                if cnt >= step.times_n:
                    exit_step(step, p["idx"], ev, t0, out)
            elif step.quantifier == "times" and cnt < step.times_n:
                out.append({"idx": p["idx"], "cnt": cnt, "events": ev, "t0": t0})
            else:
                # single / optional-taken / exact times complete — leave
                # the step; exit_step carries the state-counted GROUP
                # bookkeeping when this step is a group tail
                # (GroupPattern.java:42).
                exit_step(step, p["idx"], ev, t0, out)
            if p.get("gloop") and step.group_combinations and p["cnt"] == 0:
                # GroupPattern.allow_combinations: skip-till-ANY between
                # repeats — the loop-back twin that did NOT consume this
                # repeat-starting event survives (still gloop), so every
                # later repeat start is also taken: all combinations of
                # non-overlapping repeats match.
                out.append(p)
            if (
                step.contiguity == "followedByAny"
                and p["cnt"] == 0
                and not p.get("gloop")
            ):
                # skip-till-ANY-match: the branch that did NOT consume this
                # event survives, so every later matching event also fires.
                # The attach contiguity gates only the FIRST repeat of a
                # quantified group — a loop-back (gloop) partial is between
                # repeats and follows the group's between-repeat rule
                # (mirroring the gloop arm of the non-matched branch below);
                # skip-till-any between repeats needs allowCombinations.
                out.append(p)
        else:
            if step.greedy and p["cnt"] >= (
                step.times_n if step.quantifier == "timesOrMore" else 1
            ):
                # greedy hand-off: the maximal run just ended — enter the
                # following step with place() semantics (so an optional
                # next step forks its skip-twin, recursively), then offer
                # the run-breaking event to every entered branch (each may
                # consume it, or relaxed-skip it). The loop branch itself
                # dies (consecutive repeats are broken by this event).
                entered: list[dict] = []
                place(
                    {"idx": p["idx"] + 1, "cnt": 0, "events": dict(p["events"]), "t0": p["t0"]},
                    entered,
                )
                for q in entered:
                    advance(q, s, t, eid, out)
                return
            # mid-repeat contiguity is strict under consecutive(); the
            # step's own contiguity gates the first repeat. A loop-back
            # partial waiting at a group's first step is gated by the
            # group's BETWEEN-repeat rule, not the attach contiguity.
            if p.get("gloop"):
                strict = step.group_between_strict
            elif p["cnt"] == 0:
                strict = step.contiguity == "next"
            else:
                strict = step.consecutive or step.contiguity == "next"
            if not strict:
                out.append(p)  # relaxed: skip this event
            # else: strict contiguity broken → partial dies

    trailing_neg = steps[-1].contiguity == "notFollowedBy"
    skip = pattern.skip_strategy
    apply_skip = skip is not None and skip[0] != "no_skip"
    for s, t in zip(rows, ts_ms):
        n_before = len(matches)
        eid = int(s[id_col])
        survivors: list[dict] = []
        for p in partials:
            if pattern.within_ms is not None and t - p["t0"] > pattern.within_ms:
                if trailing_neg and p["idx"] == n_steps - 1:
                    # Window expired with the trailing guard unviolated —
                    # the absence is confirmed: a MATCH, not a timeout.
                    matches.append(p["events"])
                else:
                    timeouts.append({**p, "__timeout_ts__": p["t0"] + pattern.within_ms})
                continue
            advance(p, s, t, eid, survivors)
        partials = survivors
        if steps[0].predicate(s):
            advance({"idx": 0, "cnt": 0, "events": {}, "t0": None}, s, t, eid, partials)
        if apply_skip and len(matches) > n_before:
            # AfterMatchSkipStrategy (nfa/AfterMatchSkipStrategy.java):
            # every match completing ON this element was emitted above;
            # the strategy now prunes LIVE partials — exactly the
            # reference's order (emit per element, then discard), so
            # same-element completions never prune each other, and the
            # branch seeded BY this element is itself subject to pruning.
            partials = _prune_after_match(partials, matches[n_before:], skip)
    return matches, partials, timeouts


def _prune_after_match(
    partials: list[dict], new_matches: list[dict], skip: tuple
) -> list[dict]:
    """Apply one AfterMatchSkipStrategy round (AfterMatchSkipStrategy
    .java:103-110): SKIP_PAST_LAST_EVENT kills partials sharing an actual
    EVENT with an emitted match (event identity, not interval overlap —
    relaxed-contiguity partials may interleave without sharing events);
    SKIP_TO_FIRST/LAST kill partials containing a match event that
    precedes the first/last event mapped to the referenced pattern —
    also event containment, never a start-point bar."""
    kind, pname = skip
    if kind == "skip_past_last_event":
        emitted: set = set()
        for m in new_matches:
            emitted |= set(m.get("__ids__", ()))
        return [
            p
            for p in partials
            if not (set(p["events"].get("__ids__", ())) & emitted)
        ]
    # SKIP_TO_FIRST/LAST (nfa/NFA.java:374-383): the discard set is the
    # emitted match's OWN events that precede the first/last event mapped
    # to the referenced pattern; only partials CONTAINING a discarded
    # event die. A partial sharing no event with the match (common under
    # followedBy interleaving) survives — pruning by start-point would
    # silently under-emit its eventual match.
    discard: set = set()
    for m in new_matches:
        ids = m.get("__ids__", ())
        if kind == "skip_to_first":
            ref = m.get("__first__", {}).get(pname)
        else:
            e = m.get(pname)
            ref = (e[0], e[1]) if e else None
        if ref is None:
            # Referenced step was optional() and skipped in this match:
            # the reference treats a missing name as "discard all
            # preceding match events" rather than throwing (NFA.java has
            # no runtime guard here) — fall back to the whole match's
            # consumed set; never raise inside the executor on data.
            discard |= set(ids)
        else:
            point = (ref[1], ref[0])  # (ts, id): consumption order
            discard |= {q for q in ids if q < point}
    return [
        p
        for p in partials
        if not (set(p["events"].get("__ids__", ())) & discard)
    ]


def _prune_expired(
    partials: list[dict], horizon_ms: int, pattern: Pattern
) -> tuple[list[dict], list[dict], list[dict]]:
    """Drop partials whose within() window has passed `horizon_ms`; a
    partial sitting at a trailing notFollowedBy guard COMPLETES instead
    (absence confirmed), every other expired partial is a TIMEOUT (the
    PatternStream timeout side output). Returns
    (kept, completed_event_dicts, timed_out_partials)."""
    trailing = pattern.steps[-1].contiguity == "notFollowedBy"
    last = len(pattern.steps) - 1
    keep: list[dict] = []
    done: list[dict] = []
    timed_out: list[dict] = []
    for p in partials:
        if horizon_ms - p["t0"] <= pattern.within_ms:
            keep.append(p)
        elif trailing and p["idx"] == last:
            done.append(p["events"])
        else:
            timed_out.append({**p, "__timeout_ts__": p["t0"] + pattern.within_ms})
    return keep, done, timed_out


def _match_columns(pattern: Pattern) -> list[str]:
    cols = []
    for st in pattern.steps:
        if st.contiguity in ("notNext", "notFollowedBy"):
            continue  # negative steps never consume an event
        cols += [f"{st.name}_id", f"{st.name}_ts"]
        if st.group_id is not None:
            # group inner step: {name}_cnt is the GROUP repeat count; an
            # inner counting quantifier (r16) adds {name}_icnt — the
            # inner count within the LAST group repeat (the repeat-stable
            # convention: last repeat's event, last repeat's count)
            cols.append(f"{st.name}_cnt")
            if st.quantifier != "single":
                cols.append(f"{st.name}_icnt")
        elif st.quantifier in ("oneOrMore", "timesOrMore") or (
            st.quantifier == "times" and st.times_max is not None
        ):
            cols.append(f"{st.name}_cnt")
    return cols


def _match_row(pattern: Pattern, m: dict) -> list:
    """Flatten a match/partial event dict to the _match_columns layout;
    steps with no matched event (skipped optional, unreached) emit NULLs."""
    row: list = []
    for st in pattern.steps:
        if st.contiguity in ("notNext", "notFollowedBy"):
            continue
        e = m.get(st.name)
        row += [int(e[0]), int(e[1])] if e else [None, None]
        if st.group_id is not None:
            # state-counted group loop: the repeat count lives in the
            # match's NFA state, not the per-step tuple
            g = m.get(f"__gcnt__{st.group_id}")
            row.append(int(g) if g is not None else None)
            if st.quantifier != "single":
                # inner counting quantifier (r16): the per-step tuple's
                # count is the inner count within the last group repeat
                row.append(int(e[2]) if e else None)
        elif st.quantifier in ("oneOrMore", "timesOrMore") or (
            st.quantifier == "times" and st.times_max is not None
        ):
            row.append(int(e[2]) if e else None)
    return row


def _output_spec(pattern: Pattern, key_col: str, output: str) -> tuple[list[str], str]:
    """Validate a pattern/output pair and return the output (columns,
    DDL schema) shared by the batch and streaming CEP entry points."""
    pattern.validate()
    if output not in ("matches", "timeouts"):
        raise ValueError(f"unknown output {output!r}: expected 'matches' or 'timeouts'")
    if output == "timeouts" and pattern.within_ms is None:
        raise ValueError("output='timeouts' requires a within() bound")
    out_cols = [key_col] + _match_columns(pattern)
    if output == "timeouts":
        out_cols = out_cols + ["timeout_ts"]
    return out_cols, f"{key_col} long, " + ", ".join(f"{c} long" for c in out_cols[1:])


def _output_frame(
    pattern: Pattern, out_cols: list[str], output: str, key,
    matches: list[dict], timed_out: list[dict],
) -> pd.DataFrame | None:
    """One key's output rows, `[key] + _match_row(...)`: the completed
    matches, or for ``output='timeouts'`` the timed-out partials plus
    their expiry. None when there is nothing to emit."""
    if output == "matches":
        rows = [[key] + _match_row(pattern, m) for m in matches]
    else:
        rows = [
            [key] + _match_row(pattern, p["events"]) + [int(p["__timeout_ts__"])]
            for p in timed_out
        ]
    if not rows:
        return None
    out = pd.DataFrame(rows, columns=out_cols)
    # Fork-twins (optional skip / oneOrMore branch) can expire with
    # identical matched prefixes — emit each distinct partial once, like
    # the reference's timeout handler sees each ComputationState.
    return out if output == "matches" else out.drop_duplicates()


def match_pattern(
    df: DataFrame,
    pattern: Pattern,
    key_col: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
    output: str = "matches",
) -> DataFrame:
    """Batch CEP (CEP.pattern + PatternStream.select equivalent on a bounded
    input): one shuffle on the key; per-key sort + NFA scan in Arrow batches.

    ``output='matches'`` (default) emits completed matches.
    ``output='timeouts'`` emits timed-out partial matches instead — the
    PatternStream.select(timeoutHandler, ...) side output
    (PatternStream.java:301): the steps matched so far (NULLs beyond),
    plus ``timeout_ts`` = window expiry (t0 + within). A partial times out
    when a later event for its key arrives past the window; partials still
    inside the window at end of input remain open, not timed out — the same
    watermark-relative semantics the reference's NFA cleanup has."""
    out_cols, schema = _output_spec(pattern, key_col, output)

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
        found, _open, expired = _run_nfa(pdf, pattern, ts_col, id_col)
        out = _output_frame(
            pattern, out_cols, output, pdf[key_col].iloc[0], found, expired
        )
        return pd.DataFrame(columns=out_cols) if out is None else out

    # Semantics-preserving predicate pushdown for relaxed-contiguity
    # patterns: only candidate rows cross into Python (and the filter
    # reaches the parquet scan).
    pre = pattern.prefilter_expr()
    if pre is not None:
        df = df.filter(pre)
    # Explicit hash repartition on the key: satisfies applyInPandas'
    # clustering requirement with a width AQE won't coalesce — the Python
    # NFA is CPU-bound, not byte-bound.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n_parts, key_col).groupBy(key_col).applyInPandas(per_key, schema=schema)


def match_pattern_stream(
    stream: DataFrame,
    pattern: Pattern,
    key_col: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
    watermark_delay: str | None = None,
    output: str = "matches",
) -> DataFrame:
    """Streaming CEP: open partial matches persist in keyed state across
    micro-batches (the NFA ComputationState equivalent); completed matches
    append. Two modes, mirroring the reference's proc-time vs row-time CEP
    operators (flink-cep AbstractKeyedCEPPatternOperator):

    - ``watermark_delay=None`` — in-order replay mode: each micro-batch's
      events are NFA-scanned immediately in (ts, id) order; partials are
      pruned against the batch's max event time. Correct when arrival order
      equals event-time order per key (the bounded-replay harness; the
      reference's processing-time CEP makes the same assumption). State =
      open partials only.

    - ``watermark_delay`` set — event-time mode (RowTime CEP parity: the
      reference buffers elements in keyed state and processes them on
      watermark advance, AbstractKeyedCEPPatternOperator.processWatermark):
      events are BUFFERED in keyed state and released to the NFA in strict
      (ts, id) order only once the watermark passes them, so late arrivals
      across micro-batches are sequenced correctly before the NFA sees
      them. Matches therefore emit watermark-confirmed, exactly once; an
      event-time timer set at the earliest pending obligation (next
      buffered event, or earliest partial expiry + 1) drives release and
      state cleanup on no-data batches. State is bounded by the watermark
      lag (buffer) plus the within() window (partials) — the same bounds
      the reference's NFA state has.

    Both modes are steps on stateful._keyed_process (its rules — state
    encoding, chunk joining, drop and timers — are in the stateful module
    header)."""
    from proteus_engine_spark.streaming.stateful import (
        _keyed_process,
        _watermark_buffered,
    )

    out_cols, schema = _output_spec(pattern, key_col, output)

    def replay_step(key, pdf, st, _wm, _timed_out):
        if pdf is None:
            return None, st, None
        pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
        # Same pure NFA as batch, seeded with the carried-over partials.
        matches, partials, nfa_timeouts = _run_nfa(
            pdf, pattern, ts_col, id_col, st["partials"]
        )
        timed_out = list(nfa_timeouts)
        if pattern.within_ms is not None and partials:
            # In-order assumption ⇒ the batch max is a sound horizon: no
            # future event is earlier, so expired partials cannot complete.
            horizon = int(pdf[ts_col].values.astype("datetime64[ms]").astype("int64").max())
            partials, absence_done, expired = _prune_expired(partials, horizon, pattern)
            matches.extend(absence_done)
            timed_out.extend(expired)
        st["partials"] = partials
        out = _output_frame(pattern, out_cols, output, key[0], matches, timed_out)
        return out, st if partials else None, None

    def process_released(key, ready, st, wm):
        """The event-time mode's step on the shared watermark buffer: scan
        the released (ts, id)-ordered rows, then expire partials against
        the watermark. Pending obligation per partial: its expiry + 1."""
        matches: list[dict] = []
        timed_out: list[dict] = []
        partials = st["partials"]
        if ready:
            matches, partials, nfa_timeouts = _scan(
                [r for _t, _i, r in ready], [t for t, _i, _r in ready],
                pattern, id_col, partials,
            )
            timed_out.extend(nfa_timeouts)
        pending: list[int] = []
        if pattern.within_ms is not None and partials:
            # Sound horizon = watermark: every event still to be released
            # (buffered or future) has ts >= wm.
            partials, absence_done, expired = _prune_expired(partials, wm, pattern)
            matches.extend(absence_done)
            timed_out.extend(expired)
            pending = [p["t0"] + pattern.within_ms + 1 for p in partials]
        st["partials"] = partials
        return _output_frame(pattern, out_cols, output, key[0], matches, timed_out), pending

    pre = pattern.prefilter_expr()
    if pre is not None:
        stream = stream.filter(pre)
    if watermark_delay is not None:
        return _watermark_buffered(
            stream, key_col, ts_col, id_col, watermark_delay, schema,
            {"partials": []}, process_released,
            payload=lambda pdf: pdf.to_dict("records"), unit="ms",
        )
    return _keyed_process(
        stream, [key_col], schema, replay_step, "NoTimeout", {"partials": []}
    )


# ---------------------------------------------------------------------------
# Group patterns (Pattern.begin(Pattern) — GroupPattern.java:42)


@dataclass
class _GroupItem:
    sub: "Pattern"
    contiguity: str  # how the group's first repeat attaches
    consecutive: bool = False  # strict chaining BETWEEN repeats
    exact: int | None = None  # times(n): exactly n repeats
    max_reps: int | None = None  # one_or_more(max_repeats=N): 1..N repeats
    unbounded: bool = False  # one_or_more(): 1+ repeats, no ceiling
    optional: bool = False  # optional(): the whole group may be skipped
    combinations: bool = False  # allow_combinations(): skip-till-any between repeats

    @property
    def quantified(self) -> bool:
        return (
            self.exact is not None
            or self.max_reps is not None
            or self.unbounded
            or self.optional
        )


class GroupPattern:
    """Group patterns (GroupPattern.java:42; built by
    Pattern.begin(Pattern) / next(Pattern) / followedBy(Pattern) /
    followedByAny(Pattern), quantified with times/optional/oneOrMore —
    NFACompiler's group handling).

    Spark-first strategy: every quantifier is STATE-COUNTED, matching the
    reference's uniform treatment (GroupPattern.java:42 — NFACompiler
    wires the group's last state back to its first and carries the repeat
    count in NFA state, for times and oneOrMore alike). The group's inner
    steps appear ONCE in the compiled pattern under their base names; the
    last inner step loops back to the first with the repeat count riding
    in NFA state (``__gcnt__{gid}``), gated by the quantifier:

    - ``times(n)``: loop back while the count < n, exit the group ONLY at
      exactly n — no per-prefix matches (r14; previously enumerated
      step-sequence variants, the r13 verdict's last CEP semantics delta).
    - ``one_or_more()``: loop back always, exit at every repeat — a match
      per prefix, as deep as the data's runs reach. An explicit
      ``max_repeats=N`` caps the LOOP-BACK only (exits stay per-prefix).
    - ``optional()``: fresh entry into the group's first step forks a
      twin that skipped the whole group (fork-on-entry, the step-level
      optional discipline; loop-back re-entries never re-fork). The twin
      reports ``_cnt`` 0 with NULL ids.

    Every group therefore compiles to a SINGLE pattern — batch and
    streaming run the same NFA plan (no per-variant union, no variant
    cap), exactly the reference's NFACompiler output shape.

    Inner steps may carry their own COUNTING quantifiers — times(n),
    times(n, to), one_or_more(), times_or_more() — nesting under the
    group's quantifier exactly as the reference compiles them
    (GroupPattern.java:30/33: the group body IS a Pattern, and
    NFACompiler compiles groups recursively, so inner states can
    themselves be loops; r16). The inner count lives in the partial's own
    counter, the group count in NFA state (``__gcnt__{gid}``) — a group
    loop-back resets the inner counter so every repeat restarts the inner
    loop. optional() is allowed on INTERIOR inner steps (fork-on-entry
    each repeat; entries are cleared on loop-back so the projected
    columns reflect the last repeat only — NULL when that repeat
    skipped), and so is NEGATION (notNext/notFollowedBy as a per-repeat
    guard between inner steps: an event satisfying the guard predicate
    between the surrounding matches kills that repeat's partial, every
    repeat re-arms the guard) — neither on a quantified item's LAST
    step (it carries the loop wiring). Inner counting loops may carry
    until() — the stop event closes that repeat's loop without being
    consumed; a pending loop-back with zero matches dies, the step-level
    rule. greedy() carries through on INTERIOR loops too (maximal
    consecutive run per repeat, run-breaking hand-off to the following
    inner step; not on a quantified item's last step — FLINK-8914's
    following-step requirement composed with the loop wiring). The sole
    remaining inner-step delta vs the reference's fully-recursive
    groups: allowCombinations (skip-till-any INSIDE a repeat — put it
    on the group).

    Match columns are repeat-stable: per inner step `{name}_id`/`{name}_ts`
    (the LAST repeat's event, like loop steps report their last event) and
    `{name}_cnt` (GROUP repeats matched; 0 with NULL ids for a skipped
    optional group) — one schema regardless of the group quantifier. An
    inner-quantified step adds `{name}_icnt`: its own count within the
    last group repeat.
    """

    def __init__(self) -> None:
        self.items: list[_GroupItem] = []
        self.within_ms: int | None = None

    # -- construction ------------------------------------------------------
    @staticmethod
    def begin(sub: Pattern) -> "GroupPattern":
        g = GroupPattern()
        g.items.append(_GroupItem(sub, "begin"))
        return g

    def next(self, sub: Pattern) -> "GroupPattern":
        self.items.append(_GroupItem(sub, "next"))
        return self

    def followed_by(self, sub: Pattern) -> "GroupPattern":
        self.items.append(_GroupItem(sub, "followedBy"))
        return self

    def followed_by_any(self, sub: Pattern) -> "GroupPattern":
        self.items.append(_GroupItem(sub, "followedByAny"))
        return self

    def times(self, n: int, to: int | None = None) -> "GroupPattern":
        """Pattern.times on a group: the whole sub-sequence repeats exactly
        n times — or, with ``to`` (Pattern.times(int from, int to),
        Pattern.java's range overload), between n and ``to`` times with a
        match emitted per count in the range (per-prefix exits above the
        floor, loop capped at the ceiling; the same NFA rule, different
        floor/cap). Chained with the group's consume strategy, the count
        carried in NFA state. Composes with optional() in either order
        (GroupPattern.java parity — quantifier and optionality are
        independent flags there)."""
        if n < 1:
            raise ValueError("times(n) requires n >= 1")
        if to is not None and to < n:
            raise ValueError("times(n, to) requires to >= n")
        it = self.items[-1]
        it.exact, it.max_reps, it.unbounded = n, to, False
        return self

    def one_or_more(self, max_repeats: int | None = None) -> "GroupPattern":
        """Pattern.oneOrMore on a group (GroupPattern.java:42): the repeat
        count is carried in NFA state — the group's last inner step loops
        back to its first, and a match is emitted per prefix (repeat
        counts 1, 2, 3, ... as far as the data reaches). An explicit
        ``max_repeats`` caps the loop-back (exits stay per-prefix) —
        state-counted too since r14; the old per-repeat variant
        enumeration is gone. Order-insensitive with optional()."""
        it = self.items[-1]
        it.exact = None
        if max_repeats is None:
            it.unbounded, it.max_reps = True, None
            return self
        if max_repeats < 1:
            raise ValueError("one_or_more requires max_repeats >= 1")
        it.unbounded, it.max_reps = False, max_repeats
        return self

    def consecutive(self) -> "GroupPattern":
        """Pattern.consecutive on a quantified group (Pattern.java:462):
        repeats must chain STRICTLY (next) instead of the relaxed default —
        the same default/override step-level times/oneOrMore have."""
        if self.items[-1].combinations:
            raise ValueError(
                "consecutive() and allow_combinations() are contradictory"
            )
        self.items[-1].consecutive = True
        return self

    def allow_combinations(self) -> "GroupPattern":
        """Pattern.allowCombinations on a quantified group
        (Pattern.java:347 applied to GroupPattern — the reference's
        quantifier flags are group-agnostic): skip-till-ANY between
        repeats. The default relaxed chaining consumes the FIRST
        repeat-starting event after the previous repeat (skip-till-next);
        with combinations the non-consuming twin survives too, so every
        combination of non-overlapping repeats matches — the between-
        repeat strategy a followedByAny ATTACH deliberately does not
        grant (it gates only the group's first repeat; the r15 fix).
        Contradicts consecutive(), like the step-level flag."""
        it = self.items[-1]
        if it.consecutive:
            raise ValueError(
                "consecutive() and allow_combinations() are contradictory"
            )
        it.combinations = True
        return self

    def optional(self) -> "GroupPattern":
        """Pattern.optional on a group: all-or-nothing skip of the whole
        sub-sequence (per-step optional cannot express this)."""
        if len(self.items) == 1:
            raise ValueError("the first group cannot be optional")
        self.items[-1].optional = True
        return self

    def within(self, ms: int) -> "GroupPattern":
        self.within_ms = ms
        return self

    # -- compilation -------------------------------------------------------
    def _validate(self) -> None:
        if not self.items:
            raise ValueError("empty group pattern")
        seen: set[str] = set()
        for it in self.items:
            if it.combinations and not it.quantified:
                raise ValueError(
                    "allow_combinations() requires a quantified group "
                    "(times/one_or_more) — there are no repeats to combine"
                )
            for k, st in enumerate(it.sub.steps):
                # r16 (GroupPattern.java:30 — the group body is a full
                # Pattern, NFACompiler compiles groups recursively):
                # COUNTING quantifiers are allowed on inner steps —
                # times(n) / times(n, to) / one_or_more / times_or_more —
                # the inner count nests under the group count the same
                # state-carried way; optional() is allowed on interior
                # steps AND (r17) on a quantified item's LAST step — the
                # skip twin forked on entering the tail routes through
                # exit_step, so it closes the group repeat instead of
                # bypassing the loop wiring (a repeat may end right
                # after its penultimate step). NEGATION
                # (notNext/notFollowedBy) is allowed on INTERIOR inner
                # steps (never a sub-pattern's first step, by the
                # Pattern construction rules, and not the LAST step of a
                # quantified item — a trailing guard would bypass the
                # loop wiring; the per-repeat guard recursion lands on
                # the following step, which keeps its group bookkeeping,
                # and the reference itself rejects a trailing
                # notFollowedBy, NFACompiler.java:128).
                # until() on inner counting loops carries through too
                # (the stop event closes that repeat's loop; a pending
                # loop-back with zero matches dies, the step-level
                # rule). allowCombinations on inner loops carries
                # through as well (r17 — Pattern.java:347 composes with
                # any loop step): the un-extended twin stays INSIDE the
                # current repeat at its current inner count, so the
                # group bookkeeping is untouched until an exit routes
                # through exit_step; property-tested against subset-
                # enumerating brute-force models for interior AND
                # loop-wiring (tail) placements, tests/test_round17.py.
                # Still out: greedy on a quantified item's LAST inner
                # step (the run-breaking hand-off would bypass the loop
                # wiring).
                last_of_quantified = (
                    it.quantified and k == len(it.sub.steps) - 1
                )
                if st.contiguity in ("notNext", "notFollowedBy") and last_of_quantified:
                    raise ValueError(
                        "negation is not supported on the LAST inner "
                        "step of a quantified group (it carries the loop "
                        "wiring) — end the sub-pattern on a positive step"
                    )
                if st.greedy and last_of_quantified:
                    raise ValueError(
                        "greedy() is not supported on the LAST inner "
                        "step of a quantified group (the run-breaking "
                        "hand-off would bypass the loop wiring; the "
                        "reference likewise requires a following step, "
                        "FLINK-8914) — end the sub-pattern on a "
                        "non-greedy step"
                    )
                if st.name in seen:
                    raise ValueError(f"duplicate step name across groups: {st.name!r}")
                seen.add(st.name)

    def compile(self) -> tuple[Pattern, dict[int, int]]:
        """The single compiled (Pattern, {item_index: 1 plain | -1
        state-counted}) pair. Quantified items emit their inner steps once
        with the group loop/skip wiring; unquantified items inline as
        plain steps (their _cnt is the literal 1 in the projection)."""
        self._validate()
        steps: list[Step] = []
        eff: dict[int, int] = {}
        for i, it in enumerate(self.items):
            first_idx = len(steps)
            for k, st in enumerate(it.sub.steps):
                cont = "begin" if not steps else (
                    it.contiguity if k == 0 else st.contiguity
                )
                if it.quantified:
                    steps.append(
                        Step(
                            name=st.name,
                            predicate=st.predicate,
                            contiguity=cont,
                            expr=st.expr,
                            # inner counting quantifier (r16): carried
                            # through — the NFA nests the inner count
                            # (partial's cnt) under the group count
                            # (__gcnt__ in events state)
                            quantifier=st.quantifier,
                            times_n=st.times_n,
                            times_max=st.times_max,
                            consecutive=st.consecutive,
                            until_pred=st.until_pred,
                            until_expr=st.until_expr,
                            greedy=st.greedy,
                            combinations=st.combinations,
                            group_id=i,
                            group_between_strict=(
                                it.consecutive if k == 0 else False
                            ),
                        )
                    )
                else:
                    steps.append(
                        Step(
                            name=st.name,
                            predicate=st.predicate,
                            contiguity=cont,
                            expr=st.expr,
                            quantifier=st.quantifier,
                            times_n=st.times_n,
                            times_max=st.times_max,
                            consecutive=st.consecutive,
                            until_pred=st.until_pred,
                            until_expr=st.until_expr,
                            greedy=st.greedy,
                            combinations=st.combinations,
                        )
                    )
            if not it.quantified:
                eff[i] = 1
                continue
            eff[i] = -1
            # exact repeat target: times(n), or the single taken repeat of
            # a bare optional() group; None = oneOrMore (per-prefix exits)
            exact = it.exact
            if exact is None and not it.unbounded and it.max_reps is None:
                exact = 1
            steps[-1] = replace(
                steps[-1],
                group_loop_to=first_idx,
                group_times=exact,
                group_max=it.max_reps,
            )
            if it.optional:
                steps[first_idx] = replace(
                    steps[first_idx], group_skip_to=len(steps)
                )
            if it.combinations:
                steps[first_idx] = replace(
                    steps[first_idx], group_combinations=True
                )
        return Pattern(steps=steps, within_ms=self.within_ms), eff


def _group_match_columns(
    gpattern: GroupPattern, eff: dict[int, int], key_col: str
) -> list:
    """The repeat-stable projection: per inner step {name}_id/{name}_ts
    (base names — the compiled pattern never renames) and {name}_cnt
    (state-counted groups pass the NFA count through; plain items emit
    the literal 1)."""
    cols = [F.col(key_col)]
    for i, it in enumerate(gpattern.items):
        for st in it.sub.steps:
            if st.contiguity in ("notNext", "notFollowedBy"):
                continue  # negative inner steps never consume an event
            cols += [F.col(f"{st.name}_id"), F.col(f"{st.name}_ts")]
            if eff[i] == -1:
                cols.append(F.col(f"{st.name}_cnt"))
                if st.quantifier != "single":
                    # inner counting quantifier (r16): the step's own
                    # count within the LAST group repeat rides alongside
                    # the group count
                    cols.append(F.col(f"{st.name}_icnt"))
            elif st.quantifier in ("oneOrMore", "timesOrMore") or (
                st.quantifier == "times" and st.times_max is not None
            ):
                # quantified step inside an UNquantified item: the real
                # loop count passes through
                cols.append(F.col(f"{st.name}_cnt"))
            elif st.quantifier == "times":
                # exact times(n) in an unquantified item: deterministic
                # times_n in every completed match, 0 if unreached
                cols.append(
                    F.when(F.col(f"{st.name}_id").isNotNull(), F.lit(st.times_n))
                    .otherwise(F.lit(0)).cast("long").alias(f"{st.name}_cnt")
                )
            else:
                # plain item: matched exactly once — but in a TIMEOUT
                # partial the step may be unreached, so the literal is
                # conditional on the id (1 in every completed match)
                cols.append(
                    F.when(F.col(f"{st.name}_id").isNotNull(), F.lit(1))
                    .otherwise(F.lit(0)).cast("long").alias(f"{st.name}_cnt")
                )
    return cols


def match_group_pattern(
    df: DataFrame,
    gpattern: GroupPattern,
    key_col: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
    output: str = "matches",
) -> DataFrame:
    """Batch group-pattern matching: compile the group to its single
    state-counted pattern, run the standard NFA (one shuffle on the key,
    the match_pattern plan), and project onto the repeat-stable schema.

    ``output='timeouts'`` emits the timed-out-partial side output instead
    (PatternStream.select(timeoutHandler, ...) — groups compile to the
    same NFA, so the timeout surface carries over unchanged): the inner
    steps matched so far under their base names (NULLs beyond; a group's
    _cnt is the repeats COMPLETED when the window expired) plus
    ``timeout_ts``. Requires a within() bound, like the step-level path.

    Timeout-row _cnt encoding, deliberate asymmetry: a PLAIN item's _cnt
    is the 0/1 literal (0 = step unreached at expiry), but a quantified
    group's _cnt is NULL — not 0 — when the window expired MID-repeat
    with zero repeats completed (the NFA count ``__gcnt__`` was never
    set). NULL therefore means "entered the group but no repeat closed",
    distinguishable from a completed match of a skipped optional group,
    which reports a true 0 with NULL ids. Consumers wanting the plain-
    item convention can ``coalesce(_cnt, 0)``."""
    pat, eff = gpattern.compile()
    m = match_pattern(df, pat, key_col, ts_col=ts_col, id_col=id_col, output=output)
    cols = _group_match_columns(gpattern, eff, key_col)
    if output == "timeouts":
        cols.append(F.col("timeout_ts"))
    return m.select(*cols)


def match_group_pattern_stream(
    stream: DataFrame,
    gpattern: GroupPattern,
    key_col: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
    watermark_delay: str | None = None,
    output: str = "matches",
) -> DataFrame:
    """STREAMING group-pattern matching (the reference compiles group
    patterns into the same NFA the keyed CEP operator runs on streams —
    NFACompiler + AbstractKeyedCEPPatternOperator, so groups are not a
    batch-only feature there, and aren't here either).

    Since r14 every group — times/optional/oneOrMore, capped or not —
    compiles to a SINGLE state-counted pattern, so every group pattern is
    streaming-capable (the pre-r14 variant-expansion design restricted
    streaming to single-variant groups). The compiled pattern reuses
    match_pattern_stream unchanged: watermark-buffered (ts, id)-ordered
    NFA feeding, keyed partial-match state, exactly-once emission; the
    projection is the batch path's repeat-stable schema.
    ``output='timeouts'`` streams the timed-out-partial side output
    instead (same schema + timeout_ts, the batch path's contract)."""
    pat, eff = gpattern.compile()
    out = match_pattern_stream(
        stream, pat, key_col, ts_col=ts_col, id_col=id_col,
        watermark_delay=watermark_delay, output=output,
    )
    cols = _group_match_columns(gpattern, eff, key_col)
    if output == "timeouts":
        cols.append(F.col("timeout_ts"))
    return out.select(*cols)
