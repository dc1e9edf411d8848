"""The assembly pipeline: the driver-level composites of SURVEY §2.7
(src/Brush/BrushAssembler.java:256-893) as Python control flow over
DataFrame actions.

Stage boundaries ``localCheckpoint`` to truncate lineage (replacing the
reference's HDFS directory renames); loop decisions read counts
(replacing Hadoop counters).  Every stage returns/records its counters in
``self.counters`` mirroring the reference's per-stage printouts.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudbrush_spark.config import BrushParams
from cloudbrush_spark.operators import bubbles as bubbles_ops
from cloudbrush_spark.operators import consensus as consensus_ops
from cloudbrush_spark.operators import contraction, dedup, graph, kmers, mates, overlap
from cloudbrush_spark.operators import stats as stats_ops


@dataclass
class Assembler:
    spark: SparkSession
    params: BrushParams = field(default_factory=BrushParams)
    counters: dict = field(default_factory=dict)
    verbose: bool = False
    # durable stage checkpoints: when set, each major stage persists its
    # (nodes, edges) to parquet and a finished stage is LOADED instead of
    # recomputed on the next run — the reference's runStage/checkDone
    # partial-run machinery (src/Brush/BrushAssembler.java:132-155), and
    # what makes a multi-day 100 TB assembly restartable.  Counters of
    # skipped stages are not re-emitted.
    checkpoint_dir: str | None = None

    def _ckpt(self, df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    def _stage(self, name: str, fn) -> tuple[DataFrame, DataFrame]:
        if not self.checkpoint_dir:
            return fn()
        # Hadoop FS markers: a checkpoint_dir on HDFS/S3 resumes like a
        # local one (see ReleasePipeline._stage)
        from cloudbrush_spark.sources.corpus import fs_exists, fs_write_text
        base = f"{self.checkpoint_dir}/{name}"
        marker = f"{base}/_DONE"
        if fs_exists(self.spark, marker):
            self.counters[f"loaded_{name}"] = 1
            self._log(f"stage {name}: loaded from checkpoint")
            return (self.spark.read.parquet(f"{base}/nodes"),
                    self.spark.read.parquet(f"{base}/edges"))
        nodes, edges = fn()
        nodes.write.mode("overwrite").parquet(f"{base}/nodes")
        edges.write.mode("overwrite").parquet(f"{base}/edges")
        fs_write_text(self.spark, marker, "done")
        return (self.spark.read.parquet(f"{base}/nodes"),
                self.spark.read.parquet(f"{base}/edges"))

    def _log(self, msg: str) -> None:
        if self.verbose:
            import time
            print(f"[assembler {time.strftime('%H:%M:%S')}] {msg}", flush=True)

    # -- preprocess: P1 -> P2 -> P3 (BrushAssembler.java:256-309) ----------
    def preprocess(self, reads: DataFrame) -> tuple[DataFrame, DataFrame]:
        p = self.params
        if p.precorrect:  # CloudRS-style correction (README.md:21-23)
            for _ in range(p.precorrect_rounds):
                fixes = consensus_ops.precorrect(reads)
                n_fixes = fixes.count()
                self.counters["precorrect_fixes"] = \
                    self.counters.get("precorrect_fixes", 0) + n_fixes
                if n_fixes == 0:
                    break
                reads = self._ckpt(consensus_ops.apply_corrections(reads, fixes))
            self._log(f"precorrect: {self.counters.get('precorrect_fixes', 0)} fixes")
        if p.trust_filter:
            # A6 as a post-correction gate (IdentifyTrustedReads.java:73-94):
            # a read still holding a <= trust_threshold k-mer after
            # correction is an uncorrectable error read — at assembly-grade
            # coverage a true k-mer is seen tens of times, so these are the
            # reads whose merge-through causes the residual base error.
            tr = kmers.trusted_reads(reads, p.k, p.trust_threshold)
            reads = self._ckpt(
                reads.join(tr.filter("trusted"), on="read_id", how="left_semi"))
            self.counters["trusted_reads"] = reads.count()
            self._log(f"trust_filter: kept {self.counters['trusted_reads']} trusted reads")
        nodes = self._ckpt(dedup.dedup_reads(reads, k=p.k))
        self.counters["nodes"] = nodes.count()
        hk = self._ckpt(kmers.high_kmers(
            nodes, p.k, up_kmer=p.up_kmer, id_col="node_id", cov_col="cov"))
        self.counters["high_kmers"] = hk.count()
        self._log(f"preprocess: {self.counters['nodes']} nodes, "
                  f"{self.counters['high_kmers']} high kmers")
        return nodes, hk

    # -- buildOverlap: J1 -> J2 -> J3 (BrushAssembler.java:313-333) --------
    def build_overlap(self, nodes: DataFrame, high_kmers: DataFrame) -> DataFrame:
        p = self.params
        edges = self._ckpt(overlap.build_overlap_graph(
            nodes, p.k, high_kmers, per_key_cap=p.up_kmer))
        self.counters["edges"] = edges.count()
        self._log(f"build_overlap: {self.counters['edges']} edges")
        return edges

    # -- buildStringGraph (BrushAssembler.java:337-396) --------------------
    def build_string_graph(self, nodes: DataFrame, edges: DataFrame
                           ) -> tuple[DataFrame, DataFrame]:
        p = self.params
        for rnd in range(2):  # loop <= 2 rounds (BrushAssembler.java:347-367)
            cuts = self._ckpt(consensus_ops.cut_chimeric_links(
                nodes, edges, p.majority, p.pwm_n))
            n_cut = cuts.count()
            self.counters[f"chimeric_cut_r{rnd}"] = n_cut
            if n_cut == 0:
                break
            edges = self._ckpt(graph.remove_edges(edges, cuts))
        edges = self._ckpt(graph.transitive_reduction(nodes, edges))
        self.counters["edges_after_tr"] = edges.count()
        nodes, edges = self.compress_chains(nodes, edges)
        if self.params.diagnostics:
            # G9 DefineConsensus + G10 CountBraid diagnostic counters
            # (reference runs them at the end of buildStringGraph,
            # BrushAssembler.java:379-396)
            self.counters["braids"] = consensus_ops.count_braids(
                nodes, edges, majority=self.params.majority,
                pwm_n=self.params.pwm_n).collect()[0]["braids"]
        self._log(f"string graph: {self.counters['edges_after_tr']} edges after TR")
        return nodes, edges

    # -- compressChains (BrushAssembler.java:468-560) ----------------------
    def compress_chains(self, nodes: DataFrame, edges: DataFrame
                        ) -> tuple[DataFrame, DataFrame]:
        nodes, edges, rounds = contraction.contract_chains(
            nodes, edges, seed=self.params.random_seed,
            serial_threshold=self.params.serial_threshold,
            verbose=self.verbose)
        self.counters["compress_rounds"] = \
            self.counters.get("compress_rounds", 0) + rounds
        return self._ckpt(nodes), self._ckpt(edges)

    # -- removeTips (BrushAssembler.java:565-618) --------------------------
    def remove_tips(self, nodes: DataFrame, edges: DataFrame
                    ) -> tuple[DataFrame, DataFrame]:
        p = self.params
        total = 0
        # reference reports disconnected tip-short nodes separately
        # (tips_island, src/Brush/TipsRemoval.java:84-89); they are never
        # clipped, so count once up front
        islands = graph.count_tip_islands(nodes, edges, p.tiplength)
        self.counters["tips_island"] = \
            self.counters.get("tips_island", 0) + islands
        while True:
            doomed = graph.find_tips(nodes, edges, p.tiplength)
            n = doomed.count()
            if n == 0:
                break
            total += n
            nodes, edges = graph.remove_nodes(nodes, edges, doomed)
            nodes, edges = self.compress_chains(nodes, edges)
        self.counters["tips_removed"] = self.counters.get("tips_removed", 0) + total
        self._log(f"remove_tips: {total} tips removed, {islands} islands")
        return nodes, edges

    # -- popallbubbles (BrushAssembler.java:623-676) -----------------------
    def pop_all_bubbles(self, nodes: DataFrame, edges: DataFrame
                        ) -> tuple[DataFrame, DataFrame]:
        p = self.params
        total = 0
        while True:
            pops = bubbles_ops.find_bubbles(
                nodes, edges, p.maxbubblelen, p.bubble_edit_rate)
            n = pops.count()
            if n == 0:
                break
            total += n
            nodes, edges = bubbles_ops.pop_bubbles(nodes, edges, pops)
            nodes, edges = self.compress_chains(nodes, edges)
        self.counters["bubbles_popped"] = self.counters.get("bubbles_popped", 0) + total
        self._log(f"pop_all_bubbles: {total} popped")
        return nodes, edges

    # -- removelowcov (BrushAssembler.java:682-703) ------------------------
    def remove_low_cov(self, nodes: DataFrame, edges: DataFrame
                       ) -> tuple[DataFrame, DataFrame]:
        p = self.params
        nodes, edges, doomed = graph.remove_low_coverage(
            nodes, edges, p.low_cov_thresh, p.max_low_cov_len)
        self.counters["lowcov_removed"] = doomed.count()
        nodes, edges = self.compress_chains(nodes, edges)
        nodes, edges = self.remove_tips(nodes, edges)
        nodes, edges = self.pop_all_bubbles(nodes, edges)
        self._log(f"remove_low_cov: {self.counters['lowcov_removed']} removed")
        return nodes, edges

    # -- edgeAdjustment: C5 loop (BrushAssembler.java:400-464) -------------
    def edge_adjustment(self, nodes: DataFrame, edges: DataFrame,
                        max_rounds: int = 4) -> tuple[DataFrame, DataFrame]:
        p = self.params
        for _ in range(max_rounds):
            loops = graph.self_loops(edges)
            classified = graph.a_statistic(nodes, p.kmer_cov, p.readlen, p.k)
            uniq = classified.filter(F.col("unique")).select(
                F.col("node_id").alias("src"))
            boundary = graph.overlap_boundary_cuts(edges.join(uniq, "src"))
            removals = loops.unionByName(boundary).distinct()
            n = removals.count()
            self.counters["edge_adjust_cuts"] = \
                self.counters.get("edge_adjust_cuts", 0) + n
            if n == 0:
                break
            edges = self._ckpt(graph.remove_edges(edges, removals))
            nodes, edges = self.compress_chains(nodes, edges)
            self._log(f"edge_adjustment round: {n} cuts")
        return nodes, edges

    # -- pairedgeAdjustment: A2 -> J4 -> G2 loop (BrushAssembler.java:705-775)
    def pair_edge_adjustment(self, nodes: DataFrame, edges: DataFrame,
                             max_rounds: int = 4) -> tuple[DataFrame, DataFrame]:
        p = self.params
        for _ in range(max_rounds):
            counts = stats_ops.global_counts(nodes).collect()[0]
            removals = mates.adjust_mate_edges(
                nodes, edges, counts["reads"], counts["ctg_sum"],
                inslen=p.inslen, inslen_sd=p.inslen_sd)
            n = removals.count()
            self.counters["mate_edge_cuts"] = \
                self.counters.get("mate_edge_cuts", 0) + n
            if n == 0:
                break
            edges = self._ckpt(graph.remove_edges(edges, removals))
            nodes, edges = self.compress_chains(nodes, edges)
            self._log(f"pair_edge_adjustment round: {n} cuts")
        return nodes, edges

    # -- full run (BrushAssembler.java:829-893) ----------------------------
    def assemble(self, reads: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Stage order mirrors the reference driver exactly
        (BrushAssembler.java:829-893): preprocess -> buildOverlap ->
        buildString -> removeTips -> popBubbles -> lowcov ->
        [pairedgeAdjustment, disabled by default like :873-879] ->
        adjustedges (C5 runs LAST, on the cleaned graph)."""
        def s_string_graph():
            nodes, hk = self.preprocess(reads)
            edges = self.build_overlap(nodes, hk)
            return self.build_string_graph(nodes, edges)

        nodes, edges = self._stage("01_string_graph", s_string_graph)
        nodes, edges = self._stage(
            "02_notips", lambda: self.remove_tips(nodes, edges))
        nodes, edges = self._stage(
            "03_nobubbles", lambda: self.pop_all_bubbles(nodes, edges))
        nodes, edges = self._stage(
            "04_lowcov", lambda: self.remove_low_cov(nodes, edges))
        if self.params.mate_adjust:  # reference default: disabled
            nodes, edges = self.pair_edge_adjustment(nodes, edges)
        nodes, edges = self._stage(
            "05_edgeadjust", lambda: self.edge_adjustment(nodes, edges))
        self.counters["final_nodes"] = nodes.count()
        self.counters["final_edges"] = edges.count()
        return nodes, edges

    def stats(self, nodes: DataFrame) -> DataFrame:
        """A1 contig statistics over the final node table."""
        sized = nodes.withColumn("len", F.length("seq"))
        return stats_ops.size_distribution(sized, "len", cov_col="cov")

    def stats_report(self, nodes: DataFrame,
                     genome_size: int | None = None) -> dict:
        """The full A1 report: per-cutoff table, top-10 contigs, and the
        genome-target N50 when a genome size is given (the reference's
        ``-genome`` flag, src/Brush/Stats.java:363-411)."""
        sized = nodes.withColumn("len", F.length("seq"))
        return stats_ops.stats_report(sized, "len", cov_col="cov",
                                      genome_size=genome_size)
