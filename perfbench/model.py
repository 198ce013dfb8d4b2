"""Pure-Python models of what the pipeline must output, and the checks that
compare a cycle's observed output against them.

``CacheModel`` is the reference cache (``cache.js``) as the engine states
it: a strict incremental scan past the checkpoint, last write wins within a
page, an entity is emitted when it is new or its content (everything but
``updatedOnMs``) differs from the stored copy, expired entries are purged at
the merge and every seen key gets a fresh TTL (refresh on read), and the
next checkpoint is the page's max ``updatedOnMs`` with the partial-results
bump.

``neardup_survivors`` is the near-duplicate contract of the streaming prep:
per cluster the member with the smallest id (the earliest batch) survives
and every singleton is kept.
"""

from __future__ import annotations

from dataclasses import dataclass, field


def next_checkpoint(new_max: int | None, previous: int, partial: bool) -> int:
    """cache.js getCheckpoint: keep the previous value on an empty page;
    bump by one when a partial page did not move it."""
    if new_max is None:
        return previous
    ckpt = max(new_max, previous)
    if partial and ckpt == previous:
        ckpt += 1
    return ckpt


@dataclass
class CycleExpectation:
    emitted: dict[str, int]  # id -> content version emitted
    checkpoint: int
    keys_live: int
    keys_expired: int
    rows_scanned: int


@dataclass
class CacheModel:
    """One entity type's cache: ``id -> (version, ttl_ms)`` plus the
    checkpoint. Content is identified by its version: the generator makes
    equal versions byte-equal and different versions different. Behind a
    strict scan the page max always passes the previous checkpoint, so the
    partial-results bump keeps its reference form but never fires here."""

    checkpoint: int = 1
    state: dict[str, tuple[int, int]] = field(default_factory=dict)

    def cycle(self, rows, now_ms: int, ttl_ms: int, partial: bool = False):
        """Apply one run to ``rows`` of ``(id, version, ts)``."""
        scanned = [r for r in rows if r[2] > self.checkpoint]
        latest: dict[str, tuple[int, int]] = {}
        for rid, version, ts in scanned:
            if rid not in latest or ts > latest[rid][1]:
                latest[rid] = (version, ts)
        emitted = {
            rid: v
            for rid, (v, _) in latest.items()
            if rid not in self.state or self.state[rid][0] != v
        }
        live = {k: e for k, e in self.state.items() if e[1] >= now_ms}
        expired = len(self.state) - len(live)
        for rid, (v, _) in latest.items():
            live[rid] = (v, now_ms + ttl_ms)
        self.state = live
        self.checkpoint = next_checkpoint(
            max((r[2] for r in scanned), default=None), self.checkpoint, partial
        )
        return CycleExpectation(
            emitted, self.checkpoint, len(live), expired, len(scanned)
        )


def check_entity_cycle(
    exp: CycleExpectation,
    bodies: list[list[dict]],
    id_key: str,
    status_key: str,
    status: dict[str, str],
    max_batch_size: int,
    checkpoint: int,
    keys_live: int,
) -> list[str]:
    """Problems with one type's cycle output; empty when it is correct.

    ``bodies`` are the parsed request bodies the receiver got for the
    cycle, ``status`` the status value each expected id must carry (it
    names the version), ``checkpoint`` and ``keys_live`` what the engine
    persisted."""
    problems = []
    seen: dict[str, dict] = {}
    for body in bodies:
        if len(body) > max_batch_size:
            problems.append(f"body of {len(body)} items > {max_batch_size}")
        for item in body:
            rid = item.get(id_key)
            if rid in seen:
                problems.append(f"id {rid} emitted twice")
            seen[rid] = item
    missing = exp.emitted.keys() - seen.keys()
    extra = seen.keys() - exp.emitted.keys()
    if missing:
        problems.append(f"{len(missing)} ids not emitted, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{len(extra)} ids emitted unexpectedly, e.g. {sorted(extra)[:3]}")
    wrong = [
        rid for rid in exp.emitted.keys() & seen.keys()
        if seen[rid].get(status_key) != status[rid]
    ]
    if wrong:
        problems.append(f"{len(wrong)} ids emitted with a stale version, e.g. {wrong[:3]}")
    if checkpoint != exp.checkpoint:
        problems.append(f"checkpoint {checkpoint} != {exp.checkpoint}")
    if keys_live != exp.keys_live:
        problems.append(f"state holds {keys_live} keys != {exp.keys_live}")
    return problems


def neardup_survivors(landed: list[int], cluster_of: dict[int, int]) -> set[int]:
    """Ids the near-dup prep keeps out of the docs ``landed`` so far."""
    first: dict[int, int] = {}
    for doc in landed:
        cid = cluster_of[doc]
        if cid not in first or doc < first[cid]:
            first[cid] = doc
    return set(first.values())


def check_neardup(expected: set[int], kept: list[int]) -> list[str]:
    problems = []
    if len(kept) != len(set(kept)):
        problems.append(f"{len(kept) - len(set(kept))} docs written twice")
    got = set(kept)
    if got - expected:
        problems.append(f"{len(got - expected)} near duplicates kept, e.g. {sorted(got - expected)[:3]}")
    if expected - got:
        problems.append(f"{len(expected - got)} survivors missing, e.g. {sorted(expected - got)[:3]}")
    return problems
