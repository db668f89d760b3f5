"""The one fixpoint loop behind every iterative graph operator in
``closure.py`` and ``kg_metrics.py``; nothing else caches, cuts or
releases loop state.

Design note. The policy is the co-partitioning argument of "To
Partition, or Not to Partition, That is the Join Question in a Real
System" (SIGMOD 2021): when many joins reuse one side, partition that
side once and keep the partitioning.

* Cache lifetime. ``invariants`` (the edge table every round joins, a
  degree vector, the node universe) are persisted once, in the
  partitioning the caller gave them (``repartition(join_key)``), and
  released on every exit, exceptions included. A materialized
  ``persist`` keeps a frame's hash partitioning, so each round's join
  moves only the per-round side; ``localCheckpoint`` erases it (the RDD
  scan reports ``UnknownPartitioning``).
* Rounds. Without ``until`` a round runs no action: the rounds between
  two cuts plan as one query. With ``until`` each round's state is
  persisted and materialized once, by the signature action, keeping
  the partitioning its aggregate produced for the next round's join;
  the state it supersedes is released right after, so at most two
  generations are cached at a time.
* Lineage cuts. ``persist`` does not truncate lineage. Each step reads
  its input state once, so the plan grows by one round per round (a
  state read twice doubles it: 2^i nodes, so planning time and plan
  memory explode within a few rounds). One ``localCheckpoint`` every
  ``CUT_EVERY`` rounds, never on the last, bounds the plan at the price
  of one lost partitioning per cut. The result is materialized eagerly
  once, so it reads no released cache.
* Exhaustion. When the ``until`` signature still changes in the last
  of ``rounds`` rounds, ``iterate`` warns (``RuntimeWarning``) and
  returns the last state. Operators whose truncated answer would be
  wrong rather than coarse turn that warning into their documented
  ``RuntimeError``.
"""

from __future__ import annotations

import warnings

CUT_EVERY = 4


def iterate(state, step, *, rounds, until=None, invariants=()):
    """Return ``state`` after ``step(state, i)`` for ``i`` in
    ``range(rounds)``, eagerly materialized.

    ``state`` is the initial DataFrame, or a no-argument callable that
    builds it once the invariants are cached (for an initial state
    that needs an action over them). ``step`` reads its input state
    once. ``until(state)`` is an optional convergence signature: one
    action over the whole state (a count or an aggregate); the loop
    ends when it repeats.
    ``invariants`` are the frames every round re-reads.
    """
    invariants = list(invariants)
    live = []
    for df in invariants:
        df.persist()
    try:
        if callable(state):
            state = state()
        if until is not None:
            live.append(state.persist())
            sig = until(state)
        cut = False
        for i in range(rounds):
            state = step(state, i)
            cut = (i + 1) % CUT_EVERY == 0 and i + 1 < rounds
            if cut:
                state = state.localCheckpoint(eager=True)
            elif until is not None:
                live.append(state.persist())
            if until is None:
                continue
            prev, sig = sig, until(state)
            while live and live[0] is not state:
                live.pop(0).unpersist()
            if sig == prev:
                break
        else:
            if until is not None and rounds:
                name = step.__qualname__.split(".")[0]
                warnings.warn(
                    f"{name} hit max_iters={rounds} without converging; "
                    "the result is truncated",
                    RuntimeWarning,
                    stacklevel=3,
                )
        return state if cut else state.localCheckpoint(eager=True)
    finally:
        for df in live + invariants:
            df.unpersist()
