"""Workload definitions and seeded request pools.

A workload is a corpus size and one *pass*: a fixed sequence of request
steps. The serving loop runs whole passes, so every run has the same mix
of request kinds whatever the seed; the seed only picks the concrete
terms, filters and sampled phrases. Every get_docs spec in a run is distinct (the untimed warm-up
pass included), so the only cache a timed request can hit is the
ranked-hit cache a ``next_page`` follow-up is designed to reuse.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from typing import Callable

ROLES = ("user", "assistant", "system", "tool")
YEARS = (2018, 2019, 2020, 2021)

# request types, in the order their metrics are printed
TYPES = ("search", "next_page", "search_total", "aggregate", "timeline", "subgraph")


@dataclass(frozen=True)
class Workload:
    name: str
    n_turns: int  # turns in the corpus and its index
    page_size: int
    # one pass: (type, detail). search/search_total details are spec
    # kinds; aggregate/timeline details are the facet key / LoD and run
    # on the spec of the preceding search_total; next_page follows up
    # the latest unfollowed term query whose page 1 came back full
    steps: tuple[tuple[str, str], ...]
    # nominal wall of one warm pass on a contended 4-vCPU host: a run
    # serves round(--seconds / pass_s) passes, the same number whatever
    # the host's speed, so every run has the same mix and warmth
    pass_s: float


# Sizes are set by the run budget, about a minute per run on a contended
# 4-vCPU host including a cold build and three or four passes (one
# untimed): both workloads measure fixed per-request cost (README.md).
WORKLOADS = {
    "lookup": Workload(
        name="lookup",
        n_turns=8_000,
        page_size=10,
        steps=(
            ("search", "mid_and"), ("next_page", ""), ("search", "phrase"), ("next_page", ""),
            ("search", "mid_filter"), ("next_page", ""),
            ("search_total", "mid_not"), ("next_page", ""),
            ("aggregate", "role"), ("timeline", "month"), ("subgraph", ""),
        ),
        pass_s=6.0,
    ),
    "analytics": Workload(
        name="analytics",
        n_turns=12_000,
        page_size=50,
        steps=(
            ("search_total", "head"), ("next_page", ""),
            ("aggregate", "role"), ("timeline", "year"), ("subgraph", ""),
            ("search_total", "all_year"), ("aggregate", "tool"), ("timeline", "month"),
            ("search", "head_range"), ("next_page", ""), ("search", "phrase_hot"), ("next_page", ""),
        ),
        pass_s=7.5,
    ),
}


@dataclass(frozen=True)
class Spec:
    """The get_docs / aggregation request parameters of one query."""

    query: str = ""
    time_range: str | None = None
    roles: tuple[str, ...] = ()
    tools: tuple[str, ...] = ()
    kind: str = ""

    def key(self) -> tuple:
        return (self.query, self.time_range, self.roles, self.tools)


@dataclass
class Request:
    type: str
    spec: Spec
    detail: str = ""  # facet key / LoD
    page: int = 1
    follow_up: bool = False  # next_page placeholder, resolved at run time
    kind: str = ""  # the step's detail: spec kind, facet key or LoD
    result: dict | None = field(default=None, repr=False)


def _time_range(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.4:
        return str(rng.choice(YEARS))
    if r < 0.7:
        y = rng.choice(YEARS[:-1])
        return f"{y}-{rng.randint(y + 1, YEARS[-1])}"
    return f"{rng.choice(YEARS)}-{rng.randint(1, 12):02d}"


# Term ranges are narrow so that every seed draws requests of about the
# same work: in the synthetic corpus (about 62 tokens per doc) w40..w60
# each match 8-14% of docs, w12..w18 33-47% and w1..w4 83-98%.
def _draw(kind: str, rng: random.Random, phrase: Callable[[random.Random], tuple[str, str]]) -> Spec:
    mid = f"w{rng.randint(40, 60)}"
    if kind == "mid_and":
        a, b = rng.sample(range(20, 61), 2)
        return Spec(f"w{a} w{b}", kind=kind)
    if kind == "phrase":
        a, b = phrase(rng)
        return Spec(f'"{a} {b}"', kind=kind)
    if kind == "mid_filter":
        # role, tool or year: all three take the engine's shard-local
        # docmeta-filter path
        f = rng.randrange(3)
        if f == 0:
            return Spec(mid, roles=(rng.choice(ROLES),), kind=kind)
        if f == 1:
            return Spec(mid, tools=(f"tool_{rng.randint(0, 6)}",), kind=kind)
        return Spec(mid, time_range=str(rng.choice(YEARS)), kind=kind)
    if kind == "mid_not":
        return Spec(f"{mid} -w{rng.randint(12, 18)}", kind=kind)
    if kind == "head":
        return Spec(f"w{rng.randint(1, 4)}", kind=kind)
    if kind == "head_range":
        return Spec(f"w{rng.randint(1, 4)}", time_range=_time_range(rng), kind=kind)
    if kind == "phrase_hot":
        # adjacent head ids outside the bigram sidecar's top-8 coverage
        i = rng.randint(9, 14)
        return Spec(f'"w{i} w{i + 1}"', kind=kind)
    if kind == "all_year":
        return Spec("", time_range=str(rng.choice(YEARS)), kind=kind)
    raise ValueError(f"unknown spec kind {kind!r}")


class SpecSource:
    """Seeded stream of specs, each distinct from every spec drawn
    before it from the same source."""

    def __init__(self, seed: int, phrase: Callable[[random.Random], tuple[str, str]]):
        self.rng = random.Random(seed)
        self.phrase = phrase
        self.seen: set[tuple] = set()

    def draw(self, kind: str) -> Spec:
        for _ in range(1000):
            s = _draw(kind, self.rng, self.phrase)
            if s.key() not in self.seen:
                self.seen.add(s.key())
                return s
        raise RuntimeError(f"spec pool of kind {kind!r} exhausted")


def next_pass(w: Workload, src: SpecSource) -> list[Request]:
    """Concrete requests for one pass of the workload."""
    reqs: list[Request] = []
    current: Spec | None = None
    for typ, detail in w.steps:
        if typ == "search":
            reqs.append(Request("search", src.draw(detail), kind=detail))
        elif typ == "search_total":
            current = src.draw(detail)
            reqs.append(Request("search_total", current, kind=detail))
        elif typ == "next_page":
            reqs.append(Request("next_page", Spec(), page=2, follow_up=True))
        elif typ in ("aggregate", "timeline", "subgraph"):
            if current is None:
                raise ValueError(f"{w.name}: {typ} step before any search_total")
            reqs.append(Request(typ, current, detail=detail, kind=detail))
        else:
            raise ValueError(f"unknown step type {typ!r}")
    return reqs


def text_phrase_sampler(texts: list[str]) -> Callable[[random.Random], tuple[str, str]]:
    """Phrase source over stored texts: two adjacent ``w<id>`` words of
    a seeded random document."""

    def sample(rng: random.Random) -> tuple[str, str]:
        for _ in range(1000):
            words = rng.choice(texts).split()
            pairs = [
                (a, b) for a, b in zip(words, words[1:])
                if a[:1] == "w" and b[:1] == "w" and a[1:].isdigit() and b[1:].isdigit()
            ]
            if pairs:
                return rng.choice(pairs)
        raise RuntimeError("no sampleable phrase in the stored texts")

    return sample
