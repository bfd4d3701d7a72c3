"""Independent replay oracle for the benchmark's correctness gates.

Plain Python over pandas rows, sharing no code with the engine: a dict from
business key ``(repo, path)`` to the row the engine should hold. The
invariant checked is the engine's north rule — per-key sha256 of the
canonical content — plus the key set and the other payload columns.
"""

from __future__ import annotations

import hashlib
import math

NULLISH = {"", "None", "null", "NULL", "N/A"}


def canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, str) and v in NULLISH:
        return None
    return v


def _tagged_sha(v) -> str:
    return hashlib.sha256(("n:" if v is None else "v:" + str(v)).encode()).hexdigest()


def content_sha(content) -> str:
    return _tagged_sha(canon(content))


def payload_digest(lang, content) -> str:
    inner = "\x1f".join(_tagged_sha(canon(v)) for v in (lang, content))
    return hashlib.sha256(inner.encode()).hexdigest()


class ReplayOracle:
    """Expected lake state under last-writer-wins epochs with no-op
    suppression: within an epoch the event with the greatest
    ``(commit, event_seq)`` wins per key; a DELETE removes the key; an
    upsert whose canonical payload equals the current one keeps the
    current row (commit included)."""

    def __init__(self, base_rows):
        self.state: dict[tuple, tuple] = {
            (r.repo, r.path): (r.commit, canon(r.lang), canon(r.content))
            for r in base_rows.itertuples(index=False)
        }

    def apply_epoch(self, events) -> tuple[int, int]:
        """Apply one epoch's events; returns (events in, LWW winners)."""
        winners = events.sort_values(["commit", "event_seq"]).drop_duplicates(["repo", "path"], keep="last")
        for r in winners.itertuples(index=False):
            k = (r.repo, r.path)
            if r.op == "DELETE":
                self.state.pop(k, None)
                continue
            new = (r.commit, canon(r.lang), canon(r.content))
            cur = self.state.get(k)
            # equal canonical payloads are equal payload digests
            if cur is not None and cur[1:] == new[1:]:
                continue
            self.state[k] = new
        return len(events), len(winners)

    def rows_for(self, keys) -> dict[tuple, tuple]:
        return {k: self.state[k] for k in keys if k in self.state}

    def frame(self):
        """The expected table as a pandas frame, in the lake's column order."""
        import pandas as pd

        rows = [(k[0], k[1], *v) for k, v in sorted(self.state.items())]
        return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def rows_by_key(rows) -> dict[tuple, tuple]:
    """Engine output rows (``repo path commit lang content``) keyed like
    the oracle state; fails on a duplicate key."""
    out: dict[tuple, tuple] = {}
    for r in rows:
        k = (r[0], r[1])
        if k in out:
            raise AssertionError(f"duplicate key {k} in engine output")
        out[k] = (r[2], canon(r[3]), canon(r[4]))
    return out


def mismatches(expected: dict, actual: dict, commit: bool = True) -> list[str]:
    """Keys on which two key → (commit, lang, content) maps disagree,
    comparing content by sha256; ``commit=False`` ignores the commit
    column (a replica may keep an older commit for an unchanged row)."""
    bad = []
    for k in expected.keys() | actual.keys():
        e, a = expected.get(k), actual.get(k)
        if e is None or a is None:
            bad.append(f"{k}: expected {'absent' if e is None else 'present'}")
        elif content_sha(e[2]) != content_sha(a[2]) or e[1] != a[1] or (commit and e[0] != a[0]):
            bad.append(f"{k}: expected {e[:2]}, got {a[:2]}")
    return sorted(bad)


def diff_counts(new: dict, old: dict) -> dict[str, int]:
    """ADD / UPDATE / DELETE counts that turn state ``old`` into ``new``
    under canonical payload equality (the commit column is not compared)."""
    digest = {k: payload_digest(v[1], v[2]) for k, v in new.items()}
    return {
        "ADD": sum(1 for k in new if k not in old),
        "DELETE": sum(1 for k in old if k not in new),
        "UPDATE": sum(1 for k in new if k in old and digest[k] != payload_digest(old[k][1], old[k][2])),
    }
