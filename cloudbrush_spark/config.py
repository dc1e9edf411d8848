"""Engine parameters with the reference's defaults and derivations
(src/Brush/BrushConfig.java:54-103; FIXTURES.md F7).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class BrushParams:
    k: int = 21                     # overlap seed size (required in reference)
    readlen: int = 36               # read length (required in reference)
    up_kmer: int = 2000             # high-frequency k-mer cutoff / per-key cap
    bubble_edit_rate: float = 0.05  # max edit distance ratio for bubble pop
    low_cov_thresh: float = 1.0     # coverage cutoff for low-cov removal
    majority: float = 0.6           # PWM consensus majority
    pwm_n: float = 0.1              # PWM N-ratio
    kmer_cov: float = 30.0          # expected k-mer coverage for A-statistic
    inslen: int = 200               # mate-pair insert length
    inslen_sd: int = 20
    serial_threshold: int = 4096    # residual-subgraph size at which chain
                                    # contraction switches to the driver-side
                                    # serial finish — the reference's -nodes
                                    # flag (src/Brush/BrushConfig.java:224,
                                    # BrushAssembler.java:516-517).  Only the
                                    # distributed contraction reads it: a
                                    # graph within smallgraph.DRIVER_MAX_BYTES
                                    # is always contracted in the driver
    mate_adjust: bool = False       # J4 pairedgeAdjustment: implemented but
                                    # default-off, like the reference's
                                    # commented-out call site
                                    # (src/Brush/BrushAssembler.java:873-879)
    precorrect: bool = False        # A8 spaced-seed error correction before
                                    # dedup — the CloudRS preprocessing the
                                    # reference README recommends
                                    # (/root/reference/README.md:21-23);
                                    # off by default like the reference v0
    precorrect_rounds: int = 1
    trust_filter: bool = False      # A6 IdentifyTrustedReads as a POST-
                                    # correction gate: drop reads still
                                    # carrying a k-mer at frequency <=
                                    # assembler.TRUST_THRESHOLD after
                                    # PreCorrect
                                    # (src/Brush/IdentifyTrustedReads.java:
                                    # 73-94) — the CloudRS flow's second
                                    # half; uncorrectable error reads are
                                    # what the residual assembly base
                                    # error merges through.  Off by
                                    # default like precorrect.

    # derived (src/Brush/BrushConfig.java:86-103)
    tiplength: int = field(init=False)
    maxbubblelen: int = field(init=False)
    max_low_cov_len: int = field(init=False)

    def __post_init__(self) -> None:
        self.tiplength = 10 * self.readlen
        self.maxbubblelen = 4 * self.readlen - 2 * self.k - 1
        # BrushConfig.java:90 defaults MAX_LOW_COV_LEN = 2*READLEN, but
        # RemoveLowCoverage.configure IGNORES the conf value (commented
        # out, RemoveLowCoverage.java:63-66) and recomputes
        # (LOW_COV_THRESH+1)*READLEN - LOW_COV_THRESH*K — the mapper's
        # formula is what actually runs (51 for the golden k=21/rl=36).
        self.max_low_cov_len = int(
            (self.low_cov_thresh + 1) * self.readlen
            - self.low_cov_thresh * self.k)
