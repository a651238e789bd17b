"""KLL — mergeable rank/quantile sketch (Karnin, Lang, Liberty, FOCS 2016).
Companion sketch per the north rule (uniform rank-error guarantee,
complementing DDSketch's relative-value guarantee).

Published bound: additive rank error eps*N with eps ≈ O(1/k) using O(k)
space; this implementation uses the standard two-thirds capacity decay
(c = 2/3) and deterministic compaction offsets in place of KLL's random
coin.  Each level keeps its own offset, alternating 0, 1, 0, ... with that
level's compactions, so a level's errors cancel in pairs however the
compactions of different levels interleave.  (One offset shared by every
level can hand a level the same parity every time; its error then adds up,
to 1.5-1.9 eps on random-order input fed in small pieces.)  The offsets are
not serialized: a decoded sketch starts each level's at 0.

Order dependence: level 0 is kept sorted, so a sketch that never compacted
(n <= k) is a function of its multiset of values, the same blob under any
partitioning, arrival or merge order.  Past k, which items a compaction
keeps depends on arrival and merge order, so the sketch does too: merge
associativity then holds at the accuracy level (the rank-error bound), not
bit for bit — tests assert the bound, mirroring how the reference treats
collapsing stores (SURVEY.md §5 note on order-dependent state).

:class:`KLLBatch` holds many sketches as flat arrays and decodes, builds,
merges, encodes and answers them a batch at a time: byte for byte and value
for value what :class:`KLLSketch` gives sketch by sketch.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass
from functools import lru_cache
from typing import Sequence

import numpy as np

_C = 2.0 / 3.0
_MIN_CAP = 2
# wire format: k, n, min, max, number of levels; then per level its item
# count (uint32) and items (float64), all little-endian
_HEAD = "<IQddI"
_HEAD_DTYPE = np.dtype([("k", "<u4"), ("n", "<u8"), ("min", "<f8"), ("max", "<f8"), ("levels", "<u4")])


@lru_cache(maxsize=None)
def _capacities(k: int, height: int) -> tuple[int, ...]:
    """Capacity of each level of a sketch with ``height`` levels."""
    return tuple(max(_MIN_CAP, math.ceil(k * _C ** (height - 1 - i))) for i in range(height))


class KLLSketch:
    def __init__(self, k: int = 200):
        self.k = k
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.n = 0
        self.min_value = np.inf
        self.max_value = -np.inf
        self._flips = [0]  # per level: compactions so far, whose parity is the next offset

    # ------------------------------------------------------------------- add
    def add(self, values) -> "KLLSketch":
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return self
        self.n += v.size
        self.min_value = min(self.min_value, float(v.min()))
        self.max_value = max(self.max_value, float(v.max()))
        self.levels[0] = np.sort(np.concatenate([self.levels[0], v]), kind="mergesort")
        self._compress()
        return self

    def _compress(self) -> None:
        while True:
            caps = _capacities(self.k, len(self.levels))
            if sum(a.size for a in self.levels) <= sum(caps):
                return
            for i, arr in enumerate(self.levels):
                if arr.size > caps[i]:
                    self._compact_level(i)
                    break
            else:
                return

    def _grow(self, height: int) -> None:
        while len(self.levels) < height:
            self.levels.append(np.empty(0, dtype=np.float64))
            self._flips.append(0)

    def _compact_level(self, i: int) -> None:
        arr = np.sort(self.levels[i], kind="mergesort")
        offset = self._flips[i] & 1
        self._flips[i] += 1
        kept = arr[offset::2]
        self.levels[i] = np.empty(0, dtype=np.float64)
        self._grow(i + 2)
        self.levels[i + 1] = np.concatenate([self.levels[i + 1], kept])

    # ----------------------------------------------------------------- merge
    def merge(self, other: "KLLSketch") -> "KLLSketch":
        if self.k != other.k:
            raise ValueError("cannot merge KLL sketches with different k")
        self._grow(len(other.levels))
        for i, arr in enumerate(other.levels):
            if arr.size:
                self.levels[i] = np.concatenate([self.levels[i], arr])
        self.levels[0] = np.sort(self.levels[0], kind="mergesort")
        self.n += other.n
        self.min_value = min(self.min_value, other.min_value)
        self.max_value = max(self.max_value, other.max_value)
        self._compress()
        return self

    # --------------------------------------------------------------- queries
    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for i, arr in enumerate(self.levels):
            if arr.size:
                items.append(arr)
                weights.append(np.full(arr.size, float(1 << i)))
        if not items:
            return np.empty(0), np.empty(0)
        it = np.concatenate(items)
        wt = np.concatenate(weights)
        order = np.argsort(it, kind="mergesort")
        return it[order], wt[order]

    def quantile(self, q: float) -> float:
        return float(self.quantiles([q])[0])

    def quantiles(self, qs) -> np.ndarray:
        if self.n == 0:
            raise ValueError("empty sketch")
        items, weights = self._weighted_items()
        cum = np.cumsum(weights)
        total = cum[-1]
        qs = np.asarray(qs, dtype=np.float64)
        ranks = qs * (total - 1)
        idx = np.minimum(np.searchsorted(cum, ranks, side="right"), items.size - 1)
        out = items[idx]
        return np.clip(out, self.min_value, self.max_value)

    def rank(self, value: float) -> float:
        """Estimated fraction of items <= value."""
        if self.n == 0:
            raise ValueError("empty sketch")
        items, weights = self._weighted_items()
        total = weights.sum()
        return float(weights[items <= value].sum() / total)

    @property
    def epsilon(self) -> float:
        """Approximate additive rank-error bound for the 2/3-decay scheme."""
        return 2.0 / self.k

    # ----------------------------------------------------------------- serde
    def to_bytes(self) -> bytes:
        head = struct.pack(_HEAD, self.k, self.n, self.min_value, self.max_value,
                           len(self.levels))
        parts = [head]
        for arr in self.levels:
            parts.append(struct.pack("<I", arr.size))
            parts.append(arr.tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, b: bytes) -> "KLLSketch":
        k, n, mn, mx, n_levels = struct.unpack_from(_HEAD, b, 0)
        out = cls(k)
        out.n = n
        out.min_value = mn
        out.max_value = mx
        out.levels = []
        out._flips = [0] * n_levels
        pos = struct.calcsize(_HEAD)
        for _ in range(n_levels):
            (sz,) = struct.unpack_from("<I", b, pos)
            pos += 4
            out.levels.append(np.frombuffer(b, dtype=np.float64, count=sz, offset=pos).copy())
            pos += 8 * sz
        return out


# ---------------------------------------------------------------------------
# columnar form: many sketches as flat arrays
# ---------------------------------------------------------------------------
def _offsets(lens: np.ndarray) -> np.ndarray:
    out = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=out[1:])
    return out


def _ragged_take(offsets: np.ndarray, rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Gather the segments ``rows`` (segment i is ``offsets[i]:offsets[i+1]``
    of a flat array): their new offsets and the flat positions to take."""
    lens = offsets[rows + 1] - offsets[rows]
    new = _offsets(lens)
    return new, np.repeat(offsets[rows] - new[:-1], lens) + np.arange(new[-1])


def _byte_mask(starts: np.ndarray, ends: np.ndarray, size: int) -> np.ndarray:
    """Mask of ``size`` bytes covering the ranges ``[starts, ends)``, given
    in increasing order without overlap: runs of False and True bytes."""
    lens = np.empty(2 * starts.size + 1, dtype=np.int64)
    lens[0:-1:2] = starts - np.concatenate([[0], ends[:-1]])
    lens[1::2] = ends - starts
    lens[-1] = size - (ends[-1] if ends.size else 0)
    return np.repeat(np.arange(lens.size) % 2 == 1, lens)


def _gather(data: np.ndarray, pos: np.ndarray, dtype) -> np.ndarray:
    """One ``dtype`` value (little-endian) read at each byte position ``pos``."""
    dtype = np.dtype(dtype)
    return data[pos[:, None] + np.arange(dtype.itemsize)].view(dtype)[:, 0]


def _scatter(out: np.ndarray, pos: np.ndarray, values: np.ndarray) -> None:
    width = values.dtype.itemsize
    out[pos[:, None] + np.arange(width)] = np.ascontiguousarray(values).view(np.uint8).reshape(-1, width)


@dataclass
class KLLBatch:
    """Many KLL sketches as flat arrays.

    Sketch ``g`` has ``k[g]``, ``n[g]``, ``min_value[g]`` and
    ``max_value[g]`` and owns the level rows
    ``level_offsets[g]:level_offsets[g+1]`` (its levels 0, 1, ... in order);
    level row ``j`` owns ``items[item_offsets[j]:item_offsets[j+1]]``.
    ``valid[g]`` is False for a null blob (no levels).

    Every method is byte for byte (:meth:`encode`, :meth:`merge_runs`) or
    value for value (:meth:`quantiles`) what :class:`KLLSketch` gives one
    sketch at a time, except that a zero min, max or estimate may differ
    in its sign (-0.0 and 0.0 tie in every comparison).
    """

    k: np.ndarray
    n: np.ndarray
    min_value: np.ndarray
    max_value: np.ndarray
    level_offsets: np.ndarray
    item_offsets: np.ndarray
    items: np.ndarray
    valid: np.ndarray

    @property
    def size(self) -> int:
        return self.k.size

    def _item_counts(self) -> np.ndarray:
        return self.item_offsets[self.level_offsets[1:]] - self.item_offsets[self.level_offsets[:-1]]

    # ------------------------------------------------------------- building
    @classmethod
    def from_sketches(cls, sketches: Sequence[KLLSketch]) -> "KLLBatch":
        levels = [a for s in sketches for a in s.levels]
        return cls(
            k=np.array([s.k for s in sketches], dtype=np.int64),
            n=np.array([s.n for s in sketches], dtype=np.int64),
            min_value=np.array([s.min_value for s in sketches], dtype=np.float64),
            max_value=np.array([s.max_value for s in sketches], dtype=np.float64),
            level_offsets=_offsets(np.array([len(s.levels) for s in sketches], dtype=np.int64)),
            item_offsets=_offsets(np.array([a.size for a in levels], dtype=np.int64)),
            items=np.concatenate(levels) if levels else np.empty(0),
            valid=np.ones(len(sketches), dtype=bool),
        )

    @classmethod
    def from_values(cls, values: np.ndarray, group: np.ndarray, n_groups: int, k: int) -> "KLLBatch":
        """Sketch ``g`` of ``KLLSketch(k).add(values[group == g])`` for each
        of ``n_groups`` groups (NaN values dropped).  A group of at most k
        values never compacts: its sketch is one sorted level, written for
        all such groups by one lexsort.  Only the larger groups are built by
        :class:`KLLSketch`."""
        keep = ~np.isnan(values)
        v, g = values[keep], group[keep]
        count = np.bincount(g, minlength=n_groups)
        exact = count <= max(_MIN_CAP, k)
        small = np.flatnonzero(exact)
        large = np.flatnonzero(~exact)
        rows = np.flatnonzero(exact[g])
        items = v[rows[np.lexsort((v[rows], g[rows]))]]
        start = _offsets(count[small])
        has = count[small] > 0
        mn = np.full(small.size, np.inf)
        mx = np.full(small.size, -np.inf)
        mn[has], mx[has] = items[start[:-1][has]], items[start[1:][has] - 1]
        built = cls(
            k=np.full(small.size, k, dtype=np.int64),
            n=count[small].astype(np.int64),
            min_value=mn,
            max_value=mx,
            level_offsets=np.arange(small.size + 1, dtype=np.int64),
            item_offsets=start,
            items=items,
            valid=np.ones(small.size, dtype=bool),
        )
        if large.size == 0:
            return built
        # the larger groups' values in row order, group by group
        rows = np.flatnonzero(~exact[g])
        rest = v[rows[np.argsort(g[rows], kind="stable")]]
        cut = _offsets(count[large])
        big = cls.from_sketches([KLLSketch(k).add(rest[a:b]) for a, b in zip(cut[:-1], cut[1:])])
        return cls.concat([built, big]).take(np.argsort(np.concatenate([small, large])))

    @classmethod
    def concat(cls, batches: Sequence["KLLBatch"]) -> "KLLBatch":
        def offsets(name: str) -> np.ndarray:
            parts, base = [np.zeros(1, dtype=np.int64)], 0
            for b in batches:
                o = getattr(b, name)
                parts.append(o[1:] + base)
                base += o[-1]
            return np.concatenate(parts)

        def cat(name: str) -> np.ndarray:
            return np.concatenate([getattr(b, name) for b in batches])

        return cls(
            k=cat("k"), n=cat("n"), min_value=cat("min_value"), max_value=cat("max_value"),
            level_offsets=offsets("level_offsets"), item_offsets=offsets("item_offsets"),
            items=cat("items"), valid=cat("valid"),
        )

    def take(self, rows: np.ndarray) -> "KLLBatch":
        level_offsets, lv = _ragged_take(self.level_offsets, rows)
        item_offsets, it = _ragged_take(self.item_offsets, lv)
        return KLLBatch(
            k=self.k[rows], n=self.n[rows], min_value=self.min_value[rows],
            max_value=self.max_value[rows], level_offsets=level_offsets,
            item_offsets=item_offsets, items=self.items[it], valid=self.valid[rows],
        )

    def sketch(self, g: int) -> KLLSketch:
        """Sketch ``g`` as a :class:`KLLSketch`."""
        if not self.valid[g]:
            raise ValueError("null KLL sketch")
        s = KLLSketch(int(self.k[g]))
        s.n = int(self.n[g])
        s.min_value = float(self.min_value[g])
        s.max_value = float(self.max_value[g])
        rows = range(self.level_offsets[g], self.level_offsets[g + 1])
        s.levels = [self.items[self.item_offsets[j] : self.item_offsets[j + 1]].copy() for j in rows]
        s._flips = [0] * len(s.levels)
        return s

    # ---------------------------------------------------------------- codec
    @classmethod
    def from_blobs(cls, data: np.ndarray, offsets: np.ndarray, valid: np.ndarray) -> "KLLBatch":
        """Decode blob ``i`` = ``data[offsets[i]:offsets[i+1]]`` (a null
        where ``valid`` is False), as :meth:`KLLSketch.from_bytes` would."""
        head = _gather(data, offsets[:-1][valid], _HEAD_DTYPE)
        size = valid.size
        k, n = np.zeros(size, dtype=np.int64), np.zeros(size, dtype=np.int64)
        mn, mx = np.full(size, np.nan), np.full(size, np.nan)
        n_levels = np.zeros(size, dtype=np.int64)
        k[valid], n[valid] = head["k"], head["n"]
        mn[valid], mx[valid] = head["min"], head["max"]
        n_levels[valid] = head["levels"]
        level_offsets = _offsets(n_levels)
        # walk the levels: level j of every sketch that has one, at once
        counts = np.zeros(level_offsets[-1], dtype=np.int64)
        item_at = np.zeros(level_offsets[-1], dtype=np.int64)
        pos = offsets[:-1] + _HEAD_DTYPE.itemsize
        for j in range(int(n_levels.max(initial=0))):
            live = np.flatnonzero(n_levels > j)
            c = _gather(data, pos[live], "<u4").astype(np.int64)
            counts[level_offsets[live] + j] = c
            item_at[level_offsets[live] + j] = pos[live] + 4
            pos[live] += 4 + 8 * c
        mask = _byte_mask(item_at, item_at + 8 * counts, data.size)
        return cls(
            k=k, n=n, min_value=mn, max_value=mx, level_offsets=level_offsets,
            item_offsets=_offsets(counts), items=data[mask].view("<f8").astype(np.float64),
            valid=np.asarray(valid, dtype=bool),
        )

    def encode(self) -> tuple[np.ndarray, np.ndarray]:
        """(data, offsets): sketch ``g``'s :meth:`KLLSketch.to_bytes` as
        ``data[offsets[g]:offsets[g+1]]``; a null sketch as no bytes."""
        n_levels = np.diff(self.level_offsets)
        counts = np.diff(self.item_offsets)
        length = np.where(self.valid, _HEAD_DTYPE.itemsize + 4 * n_levels + 8 * self._item_counts(), 0)
        offsets = _offsets(length)
        out = np.zeros(offsets[-1], dtype=np.uint8)
        head = np.empty(int(self.valid.sum()), dtype=_HEAD_DTYPE)
        head["k"], head["n"] = self.k[self.valid], self.n[self.valid]
        head["min"], head["max"] = self.min_value[self.valid], self.max_value[self.valid]
        head["levels"] = n_levels[self.valid]
        _scatter(out, offsets[:-1][self.valid], head)
        # a level row's count sits after its sketch's header and earlier levels
        owner = np.repeat(np.arange(self.size), n_levels)
        level = np.arange(counts.size) - self.level_offsets[owner]
        before = self.item_offsets[:-1] - self.item_offsets[self.level_offsets[owner]]
        at = offsets[owner] + _HEAD_DTYPE.itemsize + 4 * level + 8 * before
        _scatter(out, at, counts.astype("<u4"))
        out[_byte_mask(at + 4, at + 4 + 8 * counts, out.size)] = (
            np.ascontiguousarray(self.items, dtype="<f8").view(np.uint8)
        )
        return out, offsets

    # ---------------------------------------------------------------- merge
    def merge_runs(self, run_starts: np.ndarray) -> "KLLBatch":
        """Merge each run of consecutive sketches (``run_starts[r]`` up to
        the next start) into one sketch, as a :meth:`KLLSketch.merge` loop
        in sketch order would.  A run of one sketch passes unchanged.  A run
        of one-level sketches with one k holding at most k items in all
        never compacts: its merge is their items sorted, done for all such
        runs by one lexsort.  The other runs take the core merge loop."""
        if not self.valid.all():
            raise ValueError("cannot merge a null KLL sketch")
        run_starts = np.asarray(run_starts, dtype=np.int64)
        n_runs = run_starts.size
        lens = np.diff(np.append(run_starts, self.size))
        run_of = np.repeat(np.arange(n_runs), lens)
        count = self._item_counts()
        run_k = self.k[run_starts]
        odd = (np.diff(self.level_offsets) != 1) | (self.k != run_k[run_of])
        exact = (
            (lens > 1)
            & (np.bincount(run_of, weights=odd, minlength=n_runs) == 0)
            & (np.bincount(run_of, weights=count, minlength=n_runs) <= np.maximum(_MIN_CAP, run_k))
        )
        single = np.flatnonzero(lens == 1)
        small = np.flatnonzero(exact)
        large = np.flatnonzero((lens > 1) & ~exact)

        members = np.flatnonzero(exact[run_of])
        _, at = _ragged_take(self.item_offsets, self.level_offsets[members])
        items = self.items[at]
        item_run = np.repeat(run_of[members], count[members])
        items = items[np.lexsort((items, item_run))]
        member_starts = _offsets(lens[small])[:-1]
        merged_small = KLLBatch(
            k=run_k[small],
            n=np.add.reduceat(self.n[members], member_starts),
            min_value=np.minimum.reduceat(self.min_value[members], member_starts),
            max_value=np.maximum.reduceat(self.max_value[members], member_starts),
            level_offsets=np.arange(small.size + 1, dtype=np.int64),
            item_offsets=_offsets(np.bincount(item_run, minlength=n_runs)[small]),
            items=items,
            valid=np.ones(small.size, dtype=bool),
        )
        merged_large = []
        for r in large:
            s = self.sketch(run_starts[r])
            for g in range(run_starts[r] + 1, run_starts[r] + lens[r]):
                s.merge(self.sketch(g))
            merged_large.append(s)
        parts = [self.take(run_starts[single]), merged_small, KLLBatch.from_sketches(merged_large)]
        return KLLBatch.concat(parts).take(np.argsort(np.concatenate([single, small, large])))

    # -------------------------------------------------------------- queries
    def quantiles(self, qs) -> np.ndarray:
        """``(size, len(qs))`` estimates: row ``g`` is
        :meth:`KLLSketch.quantiles` of sketch ``g`` (weighted items sorted,
        cumulative weights, ``searchsorted`` of ``q * (total - 1)``, clip to
        [min, max]); NaN for an empty or null sketch."""
        qs = np.asarray(qs, dtype=np.float64)
        n_levels = np.diff(self.level_offsets)
        level = np.arange(self.item_offsets.size - 1) - np.repeat(self.level_offsets[:-1], n_levels)
        per_level = np.diff(self.item_offsets)
        owner = np.repeat(np.repeat(np.arange(self.size), n_levels), per_level)
        order = np.lexsort((self.items, owner))
        items = self.items[order]
        # cum[p + 1]: weight of the batch's items up to item p.  Weights are
        # powers of two, so every sum is an exact integer, and a sketch's
        # cumulative weights are cum minus its base, exactly
        cum = np.zeros(items.size + 1)
        np.cumsum(np.repeat(np.ldexp(1.0, level), per_level)[order], out=cum[1:])
        start = _offsets(self._item_counts())
        end = start[1:]
        start = start[:-1]
        base = cum[start]
        total = cum[end] - base
        ranks = qs[None, :] * (total[:, None] - 1)
        # the first item whose cumulative weight exceeds rank, i.e. exceeds
        # floor(rank), the weights being integers
        pos = np.searchsorted(cum[1:], np.floor(ranks) + base[:, None], side="right")
        pos = np.clip(pos, start[:, None], np.maximum(end - 1, start)[:, None])
        has = (end > start) & (self.n > 0)
        out = np.full(ranks.shape, np.nan)
        out[has] = np.clip(items[pos[has]], self.min_value[has, None], self.max_value[has, None])
        return out
