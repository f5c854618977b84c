"""Declarative pipeline spec — the engine's equivalent of a ``Fruit``.

A :class:`FruitPlan` is a list of :class:`Slice`; each slice is
``[prep*] -> ISS -> [sieve+]`` (reference: ``/root/reference/fruits/
fruit.py:280-322``).  The plan is pure data: it can be constructed on the
driver, pickled into a pandas-UDF closure, and executed per Arrow batch by
:mod:`fruits_spark.engine.executor`.  Plan-time optimizations (word
prefix CSE via :class:`~fruits_spark.words.PrefixPlan`, feature-label
accounting) happen here, because Catalyst cannot see inside UDFs.

Randomized/fitted parameters (STD global stats, quantile bands, FFN/RIN
weights) are resolved by ``fit()`` *before* execution and stored inline,
mirroring how Spark broadcasts small fitted state to executors.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from .words import PrefixPlan, SimpleWord


@dataclass(frozen=True)
class Prep:
    """A preparateur application: ``kind`` names a function in
    :mod:`fruits_spark.kernels.prep`; ``params`` its kwargs.  Fitted
    params (e.g. STD global mean) are filled by ``fit``."""

    kind: str
    params: dict[str, Any] = field(default_factory=dict)


@dataclass(frozen=True)
class ISSSpec:
    words: tuple[SimpleWord, ...]
    mode: str = "single"  # or "extended"
    semiring: str = "reals"
    weighting: str | None = None  # None | "indices" | "l1" | "l2"
    weighting_params: dict[str, Any] = field(default_factory=dict)
    total: bool = False
    argmax: bool = False  # arctic only: also emit maximizing indices

    def plan(self) -> PrefixPlan | None:
        if self.argmax:
            return None
        return PrefixPlan(list(self.words)) if self.mode == "extended" else None

    def n_streams(self) -> int:
        if self.argmax:
            # p value streams + p(p+1)/2 index streams per word
            return sum(
                len(w) + len(w) * (len(w) + 1) // 2 for w in self.words
            )
        p = self.plan()
        return p.n_streams() if p is not None else len(self.words)

    def stream_labels(self) -> list[str]:
        if self.argmax:
            out = []
            for w in self.words:
                p = len(w)
                for k in range(p):
                    out.append(f"{w.prefix(k + 1).string}:arctic")
                    for s in range(1, k + 2):
                        out.append(f"{w.prefix(k + 1).string}:argmax{s}")
            return out
        p = self.plan()
        if p is not None:
            labels = p.labels()
        else:
            labels = [w.string for w in self.words]
        suffix = "" if self.semiring == "reals" else f":{self.semiring}"
        wsuffix = f":{self.weighting}" if self.weighting else ""
        return [lb + suffix + wsuffix for lb in labels]


@dataclass(frozen=True)
class CosWISSSpec:
    """Cosine-weighted ISS (reference: iss/cos.py:184-351): one stream
    per (word, freq); drop-in chain element alongside :class:`ISSSpec`."""

    words: tuple[SimpleWord, ...]
    freqs: tuple[float, ...]
    exponent: int = 2
    total: bool = False

    def plan(self):
        return None

    def n_streams(self) -> int:
        return len(self.words) * len(self.freqs)

    def stream_labels(self) -> list[str]:
        return [
            f"{w.string}:cos(f={f},s={self.exponent})"
            for w in self.words
            for f in self.freqs
        ]


@dataclass(frozen=True)
class Sieve:
    """kind in {max,min,end,cur,avg,std,npi,mpi,xpi,lpi,ppv,cpv}."""

    kind: str
    params: dict[str, Any] = field(default_factory=dict)

    def n_features(self) -> int:
        if self.kind in ("ppv", "cpv"):
            q = self.params.get("quantiles", [0.5])
            return len(q) - 1 if self.params.get("segments") else len(q)
        cuts = self.params.get("cuts", [-1])
        if self.kind == "end":
            return len(cuts)
        q = self.params.get("q", [-1.0, 1.0])
        return len(cuts) * (len(q) - 1)

    def requires_fitting(self) -> bool:
        if self.kind in ("ppv", "cpv"):
            return not all(self.params.get("constant", [True]))
        return any(p not in (-1.0, 0.0, 1.0) for p in self.params.get("q", (-1.0, 1.0)))

    def labels(self) -> list[str]:
        name = self.kind.upper()
        if self.kind in ("ppv", "cpv"):
            qs = self.params.get("quantiles", [0.5])
            if self.params.get("segments"):
                return [f"{name}!seg{i}" for i in range(len(qs) - 1)]
            return [f"{name}!{q}" for q in qs]
        cuts = self.params.get("cuts", [-1])
        if self.kind == "end":
            return [f"{name}!{c}" for c in cuts]
        q = self.params.get("q", [-1.0, 1.0])
        return [
            f"{name}!{c}![{q[i]},{q[i+1]}]"
            for c in cuts
            for i in range(len(q) - 1)
        ]


@dataclass(frozen=True)
class Slice:
    """[prep*] -> ISS chain -> [sieve+].

    ``iss`` may be one ISSSpec or a tuple: consecutive specs are chained
    — every stream of spec_i becomes the (univariate) input of
    spec_{i+1}, and sieves apply to the final level's streams only
    (reference: fruit.py:440-454, tests/signature/test_consecutive.py).
    """

    preps: tuple[Prep, ...] = ()
    iss: ISSSpec | tuple[ISSSpec, ...] = None  # type: ignore[assignment]
    sieves: tuple[Sieve, ...] = ()

    def iss_chain(self) -> tuple[ISSSpec, ...]:
        return self.iss if isinstance(self.iss, tuple) else (self.iss,)

    def n_streams(self) -> int:
        n = 1
        for spec in self.iss_chain():
            n *= spec.n_streams()
        return n

    def n_features(self) -> int:
        return self.n_streams() * sum(s.n_features() for s in self.sieves)

    def feature_labels(self) -> list[str]:
        out = []
        prep_tag = "".join(f"{p.kind}>" for p in self.preps)
        labels = [""]
        for spec in self.iss_chain():
            labels = [
                (f"{a}>>{b}" if a else b)
                for a in labels
                for b in spec.stream_labels()
            ]
        for sl in labels:
            for sv in self.sieves:
                for fl in sv.labels():
                    out.append(f"{prep_tag}{sl}>{fl}")
        return out


@dataclass(frozen=True)
class FruitPlan:
    slices: tuple[Slice, ...]

    def n_features(self) -> int:
        return sum(s.n_features() for s in self.slices)

    def feature_labels(self) -> list[str]:
        out = []
        for s in self.slices:
            out.extend(s.feature_labels())
        return out
