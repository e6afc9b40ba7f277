"""The shape every workload shares."""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.harness import RunContext


@dataclass
class Measurement:
    round_s: list[float] = field(default_factory=list)  # wall of each timed round
    rates: list[float] = field(default_factory=list)  # rows/s of each round
    samples: list[float] = field(default_factory=list)  # unit-operation latencies, s
    extras: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))

    def extra(self, name: str, value: float) -> None:
        self.extras[name].append(value)


class Workload:
    """One closed loop with one client. ``setup`` runs its repeatable
    part several times and returns the seconds of each repeat; the set-up
    time counts their median plus the rest of the call. ``warmup`` runs
    untimed before the timed rounds and counts in the set-up time.
    ``measure`` runs the timed rounds, once per run."""

    name = ""
    op_name = ""  # the unit operation whose latencies are sampled
    extra_units: dict[str, str] = {}  # units of Measurement.extras
    nominal_round_s = 1.0

    def rounds(self, seconds: int) -> int:
        """Timed rounds for a run of ``seconds``: a fixed function of the
        argument, never of how fast the rounds went."""
        return max(1, round(seconds / self.nominal_round_s))

    def setup(self, ctx: RunContext) -> list[float]:
        raise NotImplementedError

    def warmup(self, ctx: RunContext) -> None:
        pass

    def measure(self, ctx: RunContext, seconds: int, tag: str) -> Measurement:
        raise NotImplementedError

    def layer_probes(self, ctx: RunContext) -> None:
        pass

    def detail(self) -> dict:
        return {}
