"""The benchmark's workloads: corpus shape, config and shape guards."""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_clips: int
    p_skew: float = 0.02
    # DedupConfig field overrides; a field a later version drops is skipped
    cfg: dict = field(default_factory=dict)
    # (kind, value): the input-shape property the workload exists for
    guard: "tuple[str, float]" = ("small_join", 2.0)

    def synth_params(self, seed: int):
        from srpr_lsh_spark.sources.synth import SynthParams

        # bench.py's mix: 250-clip blocks, 0.3-1.2 s clips
        return SynthParams(n_clips=self.n_clips, block_size=250, seed=seed,
                           min_dur_ms=300, max_dur_ms=1200, p_skew=self.p_skew)

    def config(self, cores: int):
        from srpr_lsh_spark.config import DedupConfig

        names = {f.name for f in dataclasses.fields(DedupConfig)}
        over = {k: v for k, v in self.cfg.items() if k in names}
        return DedupConfig(shuffle_partitions=2 * cores, **over)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="dedup-1k",
            why="default synth mix, 1k clips: verify takes the small-join plans "
                "and the per-stage driver floor (jobs, eager checkpoints, CC "
                "probes) dominates",
            n_clips=1000,
            # ~0.7 candidates per clip at 1k (20k clips: 6 per clip)
            guard=("small_join", 2.0),
        ),
        Workload(
            name="skew-lookup-1k",
            why="30% skew rows (one giant exact cluster, one hot SRP bucket) "
                "with the verify gate at 0, so the fp-lookup and shingle-CSR "
                "plans run",
            n_clips=1000,
            p_skew=0.30,
            cfg={"verify_small_join_max_pairs": 0},
            guard=("giant_cluster", 0.05),
        ),
    )
}

# the self-check's tiny corpus (not a driver workload)
TINY = Workload(name="tiny", why="self-check", n_clips=400)


def check_guard(w: Workload, cfg, n_candidates: int, largest_cluster: int) -> "str | None":
    """The violated shape property, or None. Shapes, not plans: a later
    version that deletes a plan keeps passing."""
    kind, value = w.guard
    gate = getattr(cfg, "verify_small_join_max_pairs", 400_000)
    if kind == "small_join":
        # below the verify gate, and with the candidate density of a small
        # corpus: the gate alone sits hundreds of times above a 1k corpus's
        # candidates and would not notice the workload drifting
        if not n_candidates < gate:
            return f"{n_candidates} candidates not below the {gate} verify gate"
        if n_candidates > value * w.n_clips:
            return f"{n_candidates} candidates > {value:g} per clip x {w.n_clips} clips"
    if kind == "giant_cluster" and largest_cluster < value * w.n_clips:
        return f"largest cluster {largest_cluster} < {value:.0%} of {w.n_clips} clips"
    return None
