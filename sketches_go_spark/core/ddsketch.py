"""DDSketch value object — the mergeable quantile sketch, numpy-backed.

Semantics match the reference (cited for parity, not copied):

- add / 3-way value routing (pos store / neg store / zero bucket), NaN and
  out-of-range rejection:       /root/reference/ddsketch/ddsketch.go:124-145
- quantile rank convention ``rank = q*(count-1)`` and the
  negative / zero / positive branch:  ddsketch.go:166-191
- KeyAtRank = smallest index with cumulative count > rank (rank clamped at 0):
  /root/reference/ddsketch/store/dense_store.go:153-165
- merge = bucket-wise count addition gated on mapping equality:
  ddsketch.go:302-310
- collapsing-lowest/highest bounded-memory stores:
  /root/reference/ddsketch/store/collapsing_lowest_dense_store.go:102-166,
  collapsing_highest_dense_store.go (mirror)
- exact summary statistics with Kahan-compensated sum:
  /root/reference/ddsketch/stat/summary.go:81-151
- exact-stats quantile clamped into [min, max]: ddsketch.go:614-639

Layout is deliberately NOT the reference's (dense array / paginated buffers —
single-process allocator concerns).  Bins live as two parallel sorted numpy
arrays ``(indexes int64, counts float64)`` per sign, which vectorizes
cumulative-sum quantile extraction and makes merge an O(n) sorted union; in
Spark the same triple is a fixed StructType row (see functions.ddsketch_fns).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field, replace

import numpy as np

from sketches_go_spark.core.mapping import (
    LOGARITHMIC,
    _BaseMapping,
    mapping_from_alpha,
    mapping_from_params,
)

COLLAPSE_NONE = "none"
COLLAPSE_LOWEST = "lowest"
COLLAPSE_HIGHEST = "highest"

_EMPTY_IDX = np.empty(0, dtype=np.int64)
_EMPTY_CNT = np.empty(0, dtype=np.float64)


class UntrackableValueError(ValueError):
    """Raised in strict mode for NaN or out-of-range inputs
    (reference errors: ddsketch.go:21-24)."""


@dataclass(frozen=True)
class DDSketchConfig:
    """Sketch configuration: relative accuracy + store bounding policy.

    ``max_bins=0`` means unbounded (reference LogUnboundedDenseDDSketch,
    ddsketch.go:86-92); otherwise each of the positive / negative stores
    holds at most ``max_bins`` buckets and collapses per ``collapse``
    (ddsketch.go:98-116).
    """

    alpha: float = 0.01
    max_bins: int = 0
    collapse: str = COLLAPSE_NONE
    interpolation: str = LOGARITHMIC

    def __post_init__(self) -> None:
        if self.collapse not in (COLLAPSE_NONE, COLLAPSE_LOWEST, COLLAPSE_HIGHEST):
            raise ValueError(f"bad collapse mode {self.collapse!r}")
        if self.collapse != COLLAPSE_NONE and self.max_bins <= 0:
            raise ValueError("collapsing store requires max_bins > 0")

    def mapping(self) -> _BaseMapping:
        return mapping_from_alpha(self.alpha, self.interpolation)


def _agg_bins(idx: np.ndarray, cnt: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Aggregate (index, count) pairs into sorted unique bins."""
    if idx.size == 0:
        return _EMPTY_IDX, _EMPTY_CNT
    uidx, inv = np.unique(idx, return_inverse=True)
    ucnt = np.bincount(inv, weights=cnt)
    return uidx.astype(np.int64), ucnt.astype(np.float64)


def _collapse(
    idx: np.ndarray, cnt: np.ndarray, max_bins: int, mode: str
) -> tuple[np.ndarray, np.ndarray]:
    """Bound a store to ``max_bins`` buckets.

    Batch-equivalent of the reference's incremental collapse
    (collapsing_lowest_dense_store.go:102-136): with the full bin multiset
    known, collapsing-lowest folds every bucket below ``max_index - m + 1``
    into that boundary bucket (mirror for highest).  The reference's
    *incremental* result is arrival-order dependent; only the invariants
    (exact total count, <= m bins, preserved max for lowest / min for highest)
    are guaranteed, and those are what tests assert (store_test.go:561-685).
    """
    if max_bins <= 0 or idx.size <= max_bins:
        return idx, cnt
    if mode == COLLAPSE_LOWEST:
        lo = idx[-1] - max_bins + 1
        return _agg_bins(np.maximum(idx, lo), cnt)
    if mode == COLLAPSE_HIGHEST:
        hi = idx[0] + max_bins - 1
        return _agg_bins(np.minimum(idx, hi), cnt)
    return idx, cnt


def _kahan_add(sum_: float, comp: float, value: float) -> tuple[float, float]:
    """One Kahan-Babuška compensated-summation step (stat/summary.go:114-119)."""
    tmp = value - comp
    t = sum_ + tmp
    comp = t - sum_ - tmp
    return t, comp


@dataclass
class DDSketch:
    """A mergeable DDSketch with always-on exact summary statistics.

    Mutable accumulator object (mirrors the reference API shape); all bulk
    operations are numpy-vectorized.  Use :meth:`from_values` for batch build.
    """

    config: DDSketchConfig = field(default_factory=DDSketchConfig)
    mapping: _BaseMapping = None  # type: ignore[assignment]
    pos_idx: np.ndarray = field(default_factory=lambda: _EMPTY_IDX)
    pos_cnt: np.ndarray = field(default_factory=lambda: _EMPTY_CNT)
    neg_idx: np.ndarray = field(default_factory=lambda: _EMPTY_IDX)
    neg_cnt: np.ndarray = field(default_factory=lambda: _EMPTY_CNT)
    zero_count: float = 0.0
    # exact summary statistics (stat/summary.go:16-23); sum is Kahan-compensated
    exact_count: float = 0.0
    exact_sum: float = 0.0
    _sum_compensation: float = 0.0
    exact_min: float = math.inf
    exact_max: float = -math.inf

    def __post_init__(self) -> None:
        if self.mapping is None:
            self.mapping = self.config.mapping()

    # ------------------------------------------------------------------ build
    @classmethod
    def from_values(
        cls,
        values,
        counts=None,
        config: DDSketchConfig | None = None,
        on_untrackable: str = "raise",
    ) -> "DDSketch":
        s = cls(config=config or DDSketchConfig())
        s.add(values, counts, on_untrackable=on_untrackable)
        return s

    def add(self, values, counts=None, on_untrackable: str = "raise") -> "DDSketch":
        """Vectorized AddWithCount (ddsketch.go:124-145).

        ``on_untrackable``: 'raise' mirrors the reference's per-value errors;
        'ignore' drops NaN / out-of-range values (the distributed path uses
        'ignore' plus a job-level rejected-row metric — you cannot throw
        per-row from a vectorized kernel).
        """
        v = np.atleast_1d(np.asarray(values, dtype=np.float64))
        c = (
            np.ones_like(v)
            if counts is None
            else np.atleast_1d(np.asarray(counts, dtype=np.float64))
        )
        if v.shape != c.shape:
            raise ValueError("values and counts must have the same shape")
        if np.any(c < 0):
            raise UntrackableValueError("negative count")

        m = self.mapping
        nan = np.isnan(v)
        too_high = v > m.max_indexable
        too_low = v < -m.max_indexable
        if on_untrackable == "raise":
            if nan.any():
                raise UntrackableValueError("NaN is untrackable")
            if too_high.any():
                raise UntrackableValueError("value too high to be tracked")
            if too_low.any():
                raise UntrackableValueError("value too low to be tracked")
        else:
            keep = ~(nan | too_high | too_low)
            v, c = v[keep], c[keep]

        # drop zero-count entries early (they must not affect min/max either:
        # reference Add with count 0 is a no-op on the stores but not on
        # min/max; we match the stores-and-stats behavior for count>0 rows)
        nz = c > 0
        v, c = v[nz], c[nz]
        if v.size == 0:
            return self

        pos = v > m.min_indexable
        neg = v < -m.min_indexable
        zero = ~(pos | neg)

        if pos.any():
            pi, pc = _agg_bins(m.index(v[pos]), c[pos])
            self.pos_idx, self.pos_cnt = _merge_sorted_bins(
                self.pos_idx, self.pos_cnt, pi, pc
            )
        if neg.any():
            ni, nc = _agg_bins(m.index(-v[neg]), c[neg])
            self.neg_idx, self.neg_cnt = _merge_sorted_bins(
                self.neg_idx, self.neg_cnt, ni, nc
            )
        self.zero_count += float(c[zero].sum())
        self._apply_collapse()

        # exact stats
        self.exact_count += float(c.sum())
        # batch partial sum via numpy pairwise summation, folded in with Kahan
        self.exact_sum, self._sum_compensation = _kahan_add(
            self.exact_sum, self._sum_compensation, float(np.dot(v, c))
        )
        self.exact_min = min(self.exact_min, float(v.min()))
        self.exact_max = max(self.exact_max, float(v.max()))
        return self

    def _apply_collapse(self) -> None:
        cfg = self.config
        if cfg.collapse == COLLAPSE_NONE:
            return
        self.pos_idx, self.pos_cnt = _collapse(
            self.pos_idx, self.pos_cnt, cfg.max_bins, cfg.collapse
        )
        self.neg_idx, self.neg_cnt = _collapse(
            self.neg_idx, self.neg_cnt, cfg.max_bins, cfg.collapse
        )

    # ------------------------------------------------------------------ merge
    def merge(self, other: "DDSketch") -> "DDSketch":
        """Bucket-wise merge; mapping equality gate (ddsketch.go:302-310)."""
        if not self.mapping.equals(other.mapping):
            raise ValueError("cannot merge sketches with different index mappings")
        self.pos_idx, self.pos_cnt = _merge_sorted_bins(
            self.pos_idx, self.pos_cnt, other.pos_idx, other.pos_cnt
        )
        self.neg_idx, self.neg_cnt = _merge_sorted_bins(
            self.neg_idx, self.neg_cnt, other.neg_idx, other.neg_cnt
        )
        self.zero_count += other.zero_count
        self._apply_collapse()
        # exact-stats merge (stat/summary.go:101-112): fold other's sum and
        # compensation through this sketch's compensated accumulator
        self.exact_count += other.exact_count
        self.exact_sum, self._sum_compensation = _kahan_add(
            self.exact_sum, self._sum_compensation, other.exact_sum
        )
        self.exact_sum, self._sum_compensation = _kahan_add(
            self.exact_sum, self._sum_compensation, other._sum_compensation
        )
        self.exact_min = min(self.exact_min, other.exact_min)
        self.exact_max = max(self.exact_max, other.exact_max)
        return self

    def copy(self) -> "DDSketch":
        return replace(
            self,
            pos_idx=self.pos_idx.copy(),
            pos_cnt=self.pos_cnt.copy(),
            neg_idx=self.neg_idx.copy(),
            neg_cnt=self.neg_cnt.copy(),
        )

    # ---------------------------------------------------------------- queries
    @property
    def count(self) -> float:
        """Total count = zero + positive + negative (ddsketch.go:208-210)."""
        return self.zero_count + float(self.pos_cnt.sum()) + float(self.neg_cnt.sum())

    @property
    def is_empty(self) -> bool:
        return self.count == 0

    def quantile(self, q: float, clamp_exact: bool = False) -> float:
        return self.quantiles([q], clamp_exact=clamp_exact)[0]

    def quantiles(self, qs, clamp_exact: bool = False) -> np.ndarray:
        """GetValuesAtQuantiles (ddsketch.go:166-205), vectorized over qs.

        ``clamp_exact=True`` reproduces DDSketchWithExactSummaryStatistics:
        estimates are clamped into the exact [min, max] (ddsketch.go:614-639).
        """
        qs = np.asarray(qs, dtype=np.float64)
        if np.any((qs < 0) | (qs > 1)):
            raise ValueError("quantile must be between 0 and 1")
        total = self.count
        if total == 0:
            raise ValueError("empty sketch")

        # one cumulative order: negatives (descending index), zero, positives
        neg_cum = np.cumsum(self.neg_cnt)
        pos_cum = np.cumsum(self.pos_cnt)
        neg_total = float(neg_cum[-1]) if neg_cum.size else 0.0

        ranks = qs * (total - 1)  # ddsketch.go:181 (rank convention)
        in_neg = ranks < neg_total
        in_zero = ~in_neg & (ranks < neg_total + self.zero_count)
        in_pos = ~(in_neg | in_zero)
        # reversed rank into the negative store (ddsketch.go:184-185)
        r_neg = np.maximum(neg_total - 1 - ranks[in_neg], 0.0)
        r_pos = np.maximum(ranks[in_pos] - self.zero_count - neg_total, 0.0)
        keys = np.zeros(ranks.size, dtype=np.int64)
        keys[in_neg] = self.neg_idx[
            np.minimum(np.searchsorted(neg_cum, r_neg, side="right"), self.neg_idx.size - 1)
        ]
        keys[in_pos] = self.pos_idx[
            np.minimum(np.searchsorted(pos_cum, r_pos, side="right"), self.pos_idx.size - 1)
        ]
        # one vectorized mapping call for all qs: each call pays numpy's
        # array and errstate set-up
        values = self.mapping.value(keys)
        out = np.where(in_neg, -values, np.where(in_zero, 0.0, values))
        if clamp_exact:
            out = np.clip(out, self.exact_min, self.exact_max)
        return out

    def min_approx(self) -> float:
        """GetMinValue from extreme buckets (ddsketch.go:243-256)."""
        if self.neg_idx.size:
            return -self.mapping.value_scalar(int(self.neg_idx[-1]))
        if self.zero_count > 0:
            return 0.0
        if self.pos_idx.size:
            return self.mapping.value_scalar(int(self.pos_idx[0]))
        raise ValueError("empty sketch")

    def max_approx(self) -> float:
        """GetMaxValue (ddsketch.go:226-239)."""
        if self.pos_idx.size:
            return self.mapping.value_scalar(int(self.pos_idx[-1]))
        if self.zero_count > 0:
            return 0.0
        if self.neg_idx.size:
            return -self.mapping.value_scalar(int(self.neg_idx[0]))
        raise ValueError("empty sketch")

    def sum_approx(self) -> float:
        """GetSum = sum over bins of value*count (ddsketch.go:261-267)."""
        s = 0.0
        # np.sum rather than np.dot: numpy's pairwise order, which the batch
        # decoder reproduces, where a BLAS dot's order is its own
        if self.pos_idx.size:
            s += float(np.sum(self.mapping.value(self.pos_idx) * self.pos_cnt))
        if self.neg_idx.size:
            s -= float(np.sum(self.mapping.value(self.neg_idx) * self.neg_cnt))
        return s

    @property
    def sum(self) -> float:
        """Exact compensated sum (stat/summary.go:62-71)."""
        return self.exact_sum + self._sum_compensation

    # ---------------------------------------------------------------- reshape
    def reweight(self, w: float) -> "DDSketch":
        """Scale every count by w > 0; distribution-invariant
        (ddsketch.go:514-529, stat/summary.go:123-134)."""
        if w <= 0:
            raise ValueError("can't reweight by a negative or zero factor")
        self.pos_cnt = self.pos_cnt * w
        self.neg_cnt = self.neg_cnt * w
        self.zero_count *= w
        self.exact_count *= w
        self.exact_sum *= w
        self._sum_compensation *= w
        return self

    def change_mapping(
        self, new_mapping: _BaseMapping, scale_factor: float = 1.0
    ) -> "DDSketch":
        """Re-bucket onto a new mapping, splitting each old bucket's interval
        proportionally (by overlap) across new buckets (ddsketch.go:483-510).

        Needed to merge sketches built with different alphas.  Returns a new
        sketch; exact stats are rescaled by ``scale_factor``.
        """
        out = DDSketch(
            config=replace(
                self.config,
                alpha=new_mapping.relative_accuracy(),
                interpolation=new_mapping.interpolation,
            ),
            mapping=new_mapping,
        )
        out.zero_count = self.zero_count
        for sign, idx, cnt in (
            (+1, self.pos_idx, self.pos_cnt),
            (-1, self.neg_idx, self.neg_cnt),
        ):
            if idx.size == 0:
                continue
            lo = self.mapping.lower_bound(idx) * scale_factor
            hi = self.mapping.lower_bound(idx + 1) * scale_factor
            new_idx_parts: list[np.ndarray] = []
            new_cnt_parts: list[np.ndarray] = []
            ilo = new_mapping.index(lo)
            ihi = new_mapping.index(np.nextafter(hi, -np.inf))
            width = hi - lo
            for j in range(idx.size):
                rng = np.arange(ilo[j], ihi[j] + 1, dtype=np.int64)
                if rng.size == 1:
                    new_idx_parts.append(rng)
                    new_cnt_parts.append(np.asarray([cnt[j]]))
                    continue
                bounds = new_mapping.lower_bound(np.arange(ilo[j], ihi[j] + 2))
                overlap = np.minimum(bounds[1:], hi[j]) - np.maximum(bounds[:-1], lo[j])
                overlap = np.clip(overlap, 0, None)
                new_idx_parts.append(rng)
                new_cnt_parts.append(cnt[j] * overlap / width[j])
            ni, nc = _agg_bins(
                np.concatenate(new_idx_parts), np.concatenate(new_cnt_parts)
            )
            if sign > 0:
                out.pos_idx, out.pos_cnt = ni, nc
            else:
                out.neg_idx, out.neg_cnt = ni, nc
        out._apply_collapse()
        out.exact_count = self.exact_count
        out.exact_sum = self.exact_sum * scale_factor
        out._sum_compensation = self._sum_compensation * scale_factor
        if scale_factor >= 0:
            out.exact_min = self.exact_min * scale_factor
            out.exact_max = self.exact_max * scale_factor
        else:
            out.exact_min = self.exact_max * scale_factor
            out.exact_max = self.exact_min * scale_factor
        return out

    # ------------------------------------------------------------ serde (row)
    def to_dict(self) -> dict:
        """Plain-python dict matching the Spark sketch StructType
        (functions.ddsketch_fns.SKETCH_SCHEMA)."""
        return {
            "gamma": float(self.mapping.gamma),
            "index_offset": float(self.mapping.index_offset),
            "interpolation": self.mapping.interpolation,
            "max_bins": int(self.config.max_bins),
            "collapse": self.config.collapse,
            "zero_count": float(self.zero_count),
            "pos_idx": [int(i) for i in self.pos_idx],
            "pos_cnt": [float(x) for x in self.pos_cnt],
            "neg_idx": [int(i) for i in self.neg_idx],
            "neg_cnt": [float(x) for x in self.neg_cnt],
            "xcount": float(self.exact_count),
            "xsum": float(self.sum),
            "xmin": float(self.exact_min),
            "xmax": float(self.exact_max),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "DDSketch":
        mp = mapping_from_params(d["interpolation"], d["gamma"], d["index_offset"])
        cfg = DDSketchConfig(
            alpha=mp.relative_accuracy(),
            max_bins=int(d["max_bins"]),
            collapse=d["collapse"],
            interpolation=d["interpolation"],
        )
        s = cls(config=cfg, mapping=mp)
        s.pos_idx = np.asarray(d["pos_idx"], dtype=np.int64)
        s.pos_cnt = np.asarray(d["pos_cnt"], dtype=np.float64)
        s.neg_idx = np.asarray(d["neg_idx"], dtype=np.int64)
        s.neg_cnt = np.asarray(d["neg_cnt"], dtype=np.float64)
        s.zero_count = float(d["zero_count"])
        s.exact_count = float(d["xcount"])
        s.exact_sum = float(d["xsum"])
        s._sum_compensation = 0.0
        s.exact_min = float(d["xmin"])
        s.exact_max = float(d["xmax"])
        return s


def _merge_sorted_bins(
    idx1: np.ndarray, cnt1: np.ndarray, idx2: np.ndarray, cnt2: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Union of two sorted bin arrays with count addition (store merge,
    dense_store.go:167-186 semantics, sparse layout)."""
    if idx1.size == 0:
        return idx2, cnt2
    if idx2.size == 0:
        return idx1, cnt1
    return _agg_bins(np.concatenate([idx1, idx2]), np.concatenate([cnt1, cnt2]))


# ---------------------------------------------------------------------------
# columnar form: many sketches as one flat bins relation
# ---------------------------------------------------------------------------
def _same_length_segments(lens: np.ndarray):
    """Yield ``(n, rows)`` per distinct positive length: the segments holding
    exactly ``n`` elements.  Gathering those into an ``(len(rows), n)``
    matrix lets one row-wise numpy reduction stand in for a call per
    segment with bit-identical results: a row-wise ``sum``/``cumsum`` over a
    C-contiguous matrix takes the same (pairwise / sequential) order as the
    1-d call on each row."""
    order = np.argsort(lens, kind="stable")
    cuts = np.flatnonzero(np.diff(lens[order])) + 1
    for rows in np.split(order, cuts):
        if rows.size and lens[rows[0]] > 0:
            yield int(lens[rows[0]]), rows


def _segment_sums(values: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """``values[s:s+n].sum()`` per segment, bit-identical to numpy's own
    pairwise summation of each segment; 0.0 for an empty one."""
    out = np.zeros(lens.size, dtype=np.float64)
    for n, rows in _same_length_segments(lens):
        out[rows] = values[starts[rows, None] + np.arange(n)].sum(axis=1)
    return out


def _segment_cumsums(values: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Flat array holding ``np.cumsum(values[s:s+n])`` at each segment's
    positions (sequential, like the 1-d call); 0 elsewhere."""
    out = np.zeros(values.size, dtype=np.float64)
    for n, rows in _same_length_segments(lens):
        cols = starts[rows, None] + np.arange(n)
        out[cols] = np.cumsum(values[cols], axis=1)
    return out


def _segment_rank_positions(
    cum: np.ndarray, starts: np.ndarray, lens: np.ndarray, ranks: np.ndarray
) -> np.ndarray:
    """KeyAtRank per (segment, rank) over flat cumulative counts: the flat
    position of the first element with ``cum > rank``, clamped to the
    segment's last (``min(searchsorted(cum, rank, 'right'), n - 1)``); -1
    for an empty segment."""
    pos = np.full(ranks.shape, -1, dtype=np.int64)
    for n, rows in _same_length_segments(lens):
        c = cum[starts[rows, None] + np.arange(n)]
        for q in range(ranks.shape[1]):
            k = (c <= ranks[rows, q, None]).sum(axis=1)
            pos[rows, q] = starts[rows] + np.minimum(k, n - 1)
    return pos


def _offsets(group: np.ndarray, n: int) -> np.ndarray:
    """Offsets of ``n`` groups in a flat array whose rows carry sorted group ids."""
    return np.concatenate([[0], np.cumsum(np.bincount(group, minlength=n))]).astype(np.int64)


@dataclass
class DDSketchBatch:
    """Many sketches in columnar form: one flat bins relation.

    Sketch ``g`` owns the bins ``offsets[g]:offsets[g+1]`` of the parallel
    ``sign`` (-1 or +1) / ``index`` / ``count`` arrays, sorted by
    ``(sign, index)`` with one bin per index and sign: its negative store,
    then its positive store.  The other fields hold one value per sketch;
    ``exact_sum`` includes the Kahan compensation (``DDSketch.sum``) and
    ``mappings[mapping_id[g]]`` is sketch ``g``'s index mapping (-1: none,
    a null row of a decoded batch).

    It is the shape the relational bins path already has.  The batch codec
    (``core.encoding.encode_batch`` / ``decode_batch``) and :meth:`quantiles`
    work on it without a DDSketch object per sketch.
    """

    offsets: np.ndarray
    sign: np.ndarray
    index: np.ndarray
    count: np.ndarray
    zero_count: np.ndarray
    exact_count: np.ndarray
    exact_sum: np.ndarray
    exact_min: np.ndarray
    exact_max: np.ndarray
    mappings: list
    mapping_id: np.ndarray

    @property
    def size(self) -> int:
        return self.offsets.size - 1

    def stores(self) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """(negative-store starts, sizes, positive-store starts, sizes)."""
        lens = np.diff(self.offsets)
        group = np.repeat(np.arange(self.size), lens)
        n_neg = np.bincount(group[self.sign < 0], minlength=self.size)
        starts = self.offsets[:-1]
        return starts, n_neg, starts + n_neg, lens - n_neg

    def collapsed(self, config: DDSketchConfig) -> "DDSketchBatch":
        """Every sketch's ``_apply_collapse`` under ``config`` at once: a
        store over ``max_bins`` folds its buckets into the kept range's edge
        bucket, folded counts summed in index order as ``_collapse`` does."""
        if config.collapse == COLLAPSE_NONE or self.index.size == 0:
            return self
        group = np.repeat(np.arange(self.size), np.diff(self.offsets))
        new_store = np.ones(self.index.size, dtype=bool)
        new_store[1:] = (group[1:] != group[:-1]) | (self.sign[1:] != self.sign[:-1])
        store = np.cumsum(new_store) - 1
        first = np.flatnonzero(new_store)
        last = np.append(first[1:], self.index.size) - 1
        over = (last - first + 1 > config.max_bins)[store]
        if not over.any():
            return self
        m = config.max_bins
        if config.collapse == COLLAPSE_LOWEST:
            clamped = np.where(over, np.maximum(self.index, (self.index[last] - m + 1)[store]), self.index)
        else:
            clamped = np.where(over, np.minimum(self.index, (self.index[first] + m - 1)[store]), self.index)
        new_bin = new_store.copy()
        new_bin[1:] |= clamped[1:] != clamped[:-1]
        heads = np.flatnonzero(new_bin)
        return replace(
            self,
            offsets=_offsets(group[heads], self.size),
            sign=self.sign[heads],
            index=clamped[heads],
            count=np.bincount(np.cumsum(new_bin) - 1, weights=self.count),
        )

    def merge_runs(self, run_starts: np.ndarray) -> "DDSketchBatch":
        """Merge each run of consecutive sketches (``run_starts[r]`` up to
        the next start) into one sketch, as :meth:`DDSketch.merge` would in
        sketch order: bin, zero and exact counts add in that order, and the
        exact sum takes the same two Kahan steps per merged sketch.  No
        collapse: :meth:`collapsed` then folds each run's union once, which
        unlike incremental merging does not depend on the sketch order."""
        n_runs = run_starts.size
        lens = np.diff(np.append(run_starts, self.size))
        run_of = np.repeat(np.arange(n_runs), lens)
        if np.any(self.mapping_id != self.mapping_id[run_starts][run_of]):
            raise ValueError("cannot merge sketches with different index mappings")
        group = np.repeat(run_of, np.diff(self.offsets))
        order = np.lexsort((self.index, 2 * group + (self.sign > 0)))  # stable
        g, sg, ix = group[order], self.sign[order], self.index[order]
        new_bin = np.ones(order.size, dtype=bool)
        new_bin[1:] = (g[1:] != g[:-1]) | (sg[1:] != sg[:-1]) | (ix[1:] != ix[:-1])
        heads = np.flatnonzero(new_bin)

        # kahan(sum), then kahan(0.0) for the merged sketch's (zero)
        # compensation, exactly as DDSketch.merge folds each sketch in
        s = self.exact_sum[run_starts].copy()
        c = np.zeros(n_runs)
        for j in range(1, int(lens.max(initial=1))):
            live = lens > j
            for v in (self.exact_sum[run_starts[live] + j], 0.0):
                tmp = v - c[live]
                t = s[live] + tmp
                c[live] = t - s[live] - tmp
                s[live] = t
        return DDSketchBatch(
            offsets=_offsets(g[heads], n_runs),
            sign=sg[heads],
            index=ix[heads],
            count=np.bincount(np.cumsum(new_bin) - 1, weights=self.count[order]),
            zero_count=np.bincount(run_of, weights=self.zero_count, minlength=n_runs),
            exact_count=np.bincount(run_of, weights=self.exact_count, minlength=n_runs),
            exact_sum=s + c,
            exact_min=np.minimum.reduceat(self.exact_min, run_starts),
            exact_max=np.maximum.reduceat(self.exact_max, run_starts),
            mappings=self.mappings,
            mapping_id=self.mapping_id[run_starts],
        )

    def quantiles(self, qs, clamp_exact: bool = False) -> np.ndarray:
        """``(size, len(qs))`` estimates.  Row ``g`` is exactly what
        :meth:`DDSketch.quantiles` returns for sketch ``g`` (same rank
        convention, negative/zero/positive branch, KeyAtRank and
        ``clamp_exact``), and NaN for an empty sketch."""
        qs = np.asarray(qs, dtype=np.float64)
        if np.any((qs < 0) | (qs > 1)):
            raise ValueError("quantile must be between 0 and 1")
        neg_start, n_neg, pos_start, n_pos = self.stores()
        # DDSketch.count's order: zero + pos.sum() + neg.sum()
        total = (
            self.zero_count
            + _segment_sums(self.count, pos_start, n_pos)
            + _segment_sums(self.count, neg_start, n_neg)
        )
        starts = np.concatenate([neg_start, pos_start])
        lens = np.concatenate([n_neg, n_pos])
        cum = _segment_cumsums(self.count, starts, lens)
        neg_total = np.zeros(self.size)
        has_neg = n_neg > 0
        neg_total[has_neg] = cum[neg_start[has_neg] + n_neg[has_neg] - 1]

        zero = self.zero_count[:, None]
        neg_total = neg_total[:, None]
        ranks = qs[None, :] * (total[:, None] - 1)
        in_neg = ranks < neg_total
        in_zero = ~in_neg & (ranks < neg_total + zero)
        r_neg = np.maximum(neg_total - 1 - ranks, 0.0)
        r_pos = np.maximum(ranks - zero - neg_total, 0.0)
        pos = _segment_rank_positions(cum, starts, lens, np.concatenate([r_neg, r_pos]))
        pos = np.where(in_neg, pos[: self.size], pos[self.size :])
        # an empty sketch, or a rank in an empty store (DDSketch raises)
        valid = (total[:, None] != 0) & (in_zero | (pos >= 0))
        keys = np.where(valid & ~in_zero, self.index[np.maximum(pos, 0)], 0) if self.index.size else pos * 0
        values = np.full(keys.shape, np.nan)
        mapping_id = np.broadcast_to(self.mapping_id[:, None], keys.shape)
        for i, m in enumerate(self.mappings):
            sel = valid & (mapping_id == i)
            values[sel] = m.value(keys[sel])
        out = np.where(in_neg, -values, np.where(in_zero, 0.0, values))
        if clamp_exact:
            out = np.clip(out, self.exact_min[:, None], self.exact_max[:, None])
        return out
