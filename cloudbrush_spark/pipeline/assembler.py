"""The assembly pipeline: the driver-level composites of SURVEY §2.7
(src/Brush/BrushAssembler.java:256-893) as Python control flow over
DataFrame actions.

Stage boundaries go through ``plans.cut`` to truncate lineage (replacing
the reference's HDFS directory renames; a reliable checkpoint when
``spark.checkpoint.dir`` is set); loop decisions read counts
(replacing Hadoop counters).  Every stage returns/records its counters in
``self.counters`` mirroring the reference's per-stage printouts.

The graph is built and finished in the driver when it fits in
``smallgraph.DRIVER_MAX_BYTES`` of driver memory, as the reference hands
small residual graphs to one reducer
(src/Brush/BrushAssembler.java:506-556).  ``preprocess`` sizes the read
frame with one aggregate; reads that fit are collected once, deduplicated
and counted into the high-k-mer blacklist over driver dicts.
``build_overlap`` then counts the overlap candidates of those nodes
before building any; when the nodes and candidates fit too, the overlap
graph is built in the driver, otherwise the distributed J1-J3 join runs
on the driver-built node frame.  Every later stage (``build_string_graph``,
``compress_chains`` and the tips, bubbles, low-coverage and
edge-adjustment stages) runs its whole loop over driver dicts when its
graph fits, and the distributed loop below otherwise.  A stage handed the
frames the previous driver stage built takes that stage's dicts back
without sizing or collecting anything, so when the reads and their
overlap candidates fit, the reads are collected once and the graph stays
in the driver to the end of ``assemble``; a stage handed other frames
sizes them with one aggregate first.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from cloudbrush_spark.config import BrushParams
from cloudbrush_spark.operators import bubbles as bubbles_ops
from cloudbrush_spark.operators import consensus as consensus_ops
from cloudbrush_spark.operators import (
    contraction, dedup, graph, kmers, mates, overlap, smallgraph)
from cloudbrush_spark.operators import stats as stats_ops
from cloudbrush_spark.plans import cut

# the overlap graph's edge frame (``overlap.build_overlap_graph``)
_EDGE_SCHEMA = StructType([StructField(c, StringType()) for c in ("src", "et", "dst")]
                          + [StructField("ov", IntegerType())])

# Round budget of the two edge-adjustment loops (C5, and the mate-pair J4)
EDGE_ADJUST_ROUNDS = 4
# trust_filter keeps a read only when every k-mer of it is seen more often
# than this (src/Brush/IdentifyTrustedReads.java:73-94)
TRUST_THRESHOLD = 1


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
    # (first frame, second frame, driver form) of the last stage that
    # ran in the driver: the next stage takes the driver form back instead
    # of sizing and collecting the frames that were just built from it.
    # After ``preprocess`` the frames are (nodes, high k-mers) and the
    # driver form is (nodes dict, {k-mer: count}); after a graph stage
    # they are (nodes, edges) and a ``smallgraph`` graph.
    _held: tuple | None = field(default=None, init=False, repr=False)

    def _stage(self, name: str, fn) -> tuple[DataFrame, DataFrame]:
        if not self.checkpoint_dir:
            return fn()
        # markers go through the Hadoop FS API so a checkpoint_dir on
        # HDFS/S3 resumes like a local one (os.path marker checks never
        # see those schemes: the run would silently never resume, and
        # the marker write would fail outright)
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

    def _held_graph(self, first: DataFrame, second: DataFrame):
        """The driver form held by the last driver stage when ``first`` and
        ``second`` are the very frames it built, else None."""
        held = self._held
        if held is not None and held[0] is first and held[1] is second:
            return held[2]
        return None

    def _driver_graph(self, stage: str, nodes: DataFrame, edges: DataFrame):
        """``(edge rows, graph)``: the graph is the ``smallgraph`` (nodes,
        edges) when it fits the driver budget, else None.  Given the very
        frames the previous driver stage returned, it takes that stage's
        graph back without a job; otherwise ``smallgraph.driver_bytes``
        sizes the frames with one aggregate, so a graph that stays
        distributed moves no rows to the driver, and one that fits
        ``smallgraph.DRIVER_MAX_BYTES`` is collected."""
        g, self._held = self._held_graph(nodes, edges), None
        if g is not None:
            self._log(f"{stage}: driver finish (graph held from the previous stage)")
        else:
            n_nodes, n_edges, est = smallgraph.driver_bytes(nodes, edges)
            size = f"{n_nodes} nodes, {n_edges} edges, ~{est / 2**20:.1f} MB in the driver"
            if est > smallgraph.DRIVER_MAX_BYTES:
                self._log(f"{stage}: distributed ({size})")
                return n_edges, None
            self._log(f"{stage}: driver finish ({size})")
            g = smallgraph.collect(nodes, edges)
        self.counters["driver_finish"] = self.counters.get("driver_finish", 0) + 1
        return len(g[1]), g

    def _node_frame(self, g_nodes: dict, schema: StructType) -> DataFrame:
        """Driver nodes as a frame of ``schema``, id-sorted, built from an
        Arrow table (``smallgraph.arrow_frame``)."""
        ids = sorted(g_nodes)
        cols = {"node_id": ids,
                "seq": [g_nodes[n][0] for n in ids],
                "cov": [g_nodes[n][1] for n in ids],
                "pair_ends": [g_nodes[n][2] for n in ids]}
        return smallgraph.arrow_frame(
            self.spark, {c: cols[c] for c in schema.names}, schema)

    def _edge_frame(self, g_edges: set, schema: StructType) -> DataFrame:
        """Driver edges as a sorted frame of ``schema``, like ``_node_frame``."""
        rows = sorted(g_edges)
        cols = {c: [e[i] for e in rows]
                for i, c in enumerate(("src", "et", "dst", "ov"))}
        return smallgraph.arrow_frame(
            self.spark, {c: cols[c] for c in schema.names}, schema)

    def _frames(self, g: tuple[dict, set], nodes: DataFrame, edges: DataFrame
                ) -> tuple[DataFrame, DataFrame]:
        """A driver graph as frames with the schemas of ``nodes`` and
        ``edges``.  The graph is held, in the node order the frames collect
        in and as ``smallgraph.collect`` would read them back, for the next
        stage's ``_driver_graph``."""
        g_nodes, g_edges = g
        out_nodes = self._node_frame(g_nodes, nodes.schema)
        out_edges = self._edge_frame(g_edges, edges.schema)
        pairs = "pair_ends" in nodes.columns
        self._held = (out_nodes, out_edges,
                      ({n: g_nodes[n] if pairs else (*g_nodes[n][:2], None)
                        for n in sorted(g_nodes)}, g_edges))
        return out_nodes, out_edges

    # -- driver forms of the stage loops: each mirrors the distributed
    # loop of the stage method below it, on ``smallgraph`` (nodes, edges)
    def _string_graph_small(self, nodes: dict, edges: set) -> tuple[dict, set]:
        p = self.params
        # a side's consensus reads only that side's edges, so round 1
        # re-votes only the sides that lost an edge (or its reverse) in
        # round 0; every other side already voted on the same edges
        voters = edges
        for rnd in range(2):
            cuts = smallgraph.chimeric_cuts(nodes, voters, p.majority, p.pwm_n)
            self.counters[f"chimeric_cut_r{rnd}"] = len(cuts)
            if not cuts:
                break
            gone = smallgraph.with_reverses(cuts)
            edges = edges - gone
            touched = {(s, et[0]) for s, et, _, _ in gone}
            voters = [e for e in edges if (e[0], e[1][0]) in touched]
        edges = smallgraph.transitive_reduction(nodes, edges)
        self.counters["edges_after_tr"] = len(edges)
        return self._compress_small(nodes, edges)

    def _compress_small(self, nodes: dict, edges: set) -> tuple[dict, set]:
        nodes, edges, n_links = smallgraph.contract(nodes, edges)
        if n_links:
            self.counters["compress_rounds"] = \
                self.counters.get("compress_rounds", 0) + 1
        return nodes, edges

    def _tips_small(self, nodes: dict, edges: set) -> tuple[dict, set]:
        p = self.params
        total, islands = 0, None
        while True:
            doomed, isl = smallgraph.find_tips(nodes, edges, p.tiplength)
            if islands is None:
                islands = isl
            if not doomed:
                break
            total += len(doomed)
            nodes, edges = self._compress_small(
                *smallgraph.remove_nodes(nodes, edges, doomed))
        self.counters["tips_island"] = self.counters.get("tips_island", 0) + islands
        self.counters["tips_removed"] = self.counters.get("tips_removed", 0) + total
        self._log(f"remove_tips: {total} tips removed, {islands} islands")
        return nodes, edges

    def _bubbles_small(self, nodes: dict, edges: set) -> tuple[dict, set]:
        p = self.params
        total = 0
        while True:
            pops = smallgraph.find_bubbles(
                nodes, edges, p.maxbubblelen, p.bubble_edit_rate)
            if not pops:
                break
            total += len(pops)
            nodes, edges = self._compress_small(
                *smallgraph.pop_bubbles(nodes, edges, pops))
        self.counters["bubbles_popped"] = self.counters.get("bubbles_popped", 0) + total
        self._log(f"pop_all_bubbles: {total} popped")
        return nodes, edges

    def _low_cov_small(self, nodes: dict, edges: set) -> tuple[dict, set]:
        p = self.params
        doomed = smallgraph.low_coverage(nodes, p.low_cov_thresh, p.max_low_cov_len)
        self.counters["lowcov_removed"] = len(doomed)
        nodes, edges = self._compress_small(
            *smallgraph.remove_nodes(nodes, edges, doomed))
        nodes, edges = self._bubbles_small(*self._tips_small(nodes, edges))
        self._log(f"remove_low_cov: {len(doomed)} removed")
        return nodes, edges

    def _edge_adjust_small(self, nodes: dict, edges: set) -> tuple[dict, set]:
        p = self.params
        for _ in range(EDGE_ADJUST_ROUNDS):
            uniq = smallgraph.unique_nodes(nodes, p.kmer_cov, p.readlen, p.k)
            removals = smallgraph.self_loops(edges) | smallgraph.overlap_boundary_cuts(
                [e for e in edges if e[0] in uniq])
            self.counters["edge_adjust_cuts"] = \
                self.counters.get("edge_adjust_cuts", 0) + len(removals)
            if not removals:
                break
            nodes, edges = self._compress_small(
                nodes, smallgraph.remove_edges(edges, removals))
            self._log(f"edge_adjustment round: {len(removals)} cuts")
        return nodes, edges

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
                reads = cut(consensus_ops.apply_corrections(reads, fixes))
            self._log(f"precorrect: {self.counters.get('precorrect_fixes', 0)} fixes")
        if p.trust_filter:
            # A6 as a post-correction gate (IdentifyTrustedReads.java:73-94):
            # a read still holding a <= TRUST_THRESHOLD k-mer after
            # correction is an uncorrectable error read — at assembly-grade
            # coverage a true k-mer is seen tens of times, so these are the
            # reads whose merge-through causes the residual base error.
            tr = kmers.trusted_reads(reads, p.k, TRUST_THRESHOLD)
            reads = cut(
                reads.join(tr.filter("trusted"), on="read_id", how="left_semi"))
            self.counters["trusted_reads"] = reads.count()
            self._log(f"trust_filter: kept {self.counters['trusted_reads']} trusted reads")
        nodes = dedup.dedup_reads(reads, k=p.k)

        def high(nodes):
            return kmers.high_kmers(
                nodes, p.k, up_kmer=p.up_kmer, id_col="node_id", cov_col="cov")

        if self._reads_fit(reads):
            r = reads.select("read_id", "seq").toArrow().to_pydict()
            g_nodes = smallgraph.dedup_reads(zip(r["read_id"], r["seq"]), p.k)
            g_hk = smallgraph.high_kmers(g_nodes, p.k, p.up_kmer)
            nodes = self._node_frame(g_nodes, nodes.schema)
            kms = sorted(g_hk)
            hk = smallgraph.arrow_frame(
                self.spark, {"kmer": kms, "cnt": [g_hk[km] for km in kms]},
                high(nodes).schema)
            self._held = (nodes, hk, (g_nodes, g_hk))
            self.counters["nodes"], self.counters["high_kmers"] = len(g_nodes), len(g_hk)
        else:
            nodes = cut(nodes)
            self.counters["nodes"] = nodes.count()
            hk = cut(high(nodes))
            self.counters["high_kmers"] = hk.count()
        self._log(f"preprocess: {self.counters['nodes']} nodes, "
                  f"{self.counters['high_kmers']} high kmers")
        return nodes, hk

    def _reads_fit(self, reads: DataFrame) -> bool:
        """Whether the reads fit the driver budget, sized as the node frame
        they would make with no duplicate: each read a node whose read
        list holds its own id.  No read fits a budget below one row's
        cost, so that budget is not probed."""
        if smallgraph.DRIVER_MAX_BYTES < smallgraph.ROW_BYTES:
            return False
        n_reads, _, est = smallgraph.driver_bytes(reads.select(
            F.col("read_id").alias("node_id"), "seq",
            F.array("read_id").alias("pair_ends")))
        size = f"{n_reads} reads, ~{est / 2**20:.1f} MB in the driver"
        fits = est <= smallgraph.DRIVER_MAX_BYTES
        self._log(f"preprocess: {'in the driver' if fits else 'distributed'} ({size})")
        return fits

    # -- buildOverlap: J1 -> J2 -> J3 (BrushAssembler.java:313-333) --------
    def build_overlap(self, nodes: DataFrame, high_kmers: DataFrame) -> DataFrame:
        """Handed the frames a driver ``preprocess`` built, the overlap
        candidates are counted from the driver seed index; when the nodes
        and candidates fit the budget the edges are built in the driver
        and held for ``build_string_graph``.  Otherwise the distributed
        join runs; the edge count is then taken by build_string_graph's
        size probe."""
        p = self.params
        held, self._held = self._held_graph(nodes, high_kmers), None
        if held is not None:
            g_nodes, g_hk = held
            index = smallgraph.seed_index(g_nodes, p.k, g_hk)
            n_cand, est = smallgraph.overlap_bytes(g_nodes, index)
            size = (f"{len(g_nodes)} nodes, {n_cand} candidates, "
                    f"~{est / 2**20:.1f} MB in the driver")
            if est <= smallgraph.DRIVER_MAX_BYTES:
                self._log(f"build_overlap: in the driver ({size})")
                g_edges = smallgraph.overlap_graph(g_nodes, index)
                edges = self._edge_frame(g_edges, _EDGE_SCHEMA)
                self._held = (nodes, edges, (g_nodes, g_edges))
                return edges
            self._log(f"build_overlap: distributed ({size})")
        return cut(overlap.build_overlap_graph(
            nodes, p.k, high_kmers, per_key_cap=p.up_kmer))

    # -- buildStringGraph (BrushAssembler.java:337-396) --------------------
    def build_string_graph(self, nodes: DataFrame, edges: DataFrame
                           ) -> tuple[DataFrame, DataFrame]:
        p = self.params
        self.counters["edges"], g = self._driver_graph(
            "build_string_graph", nodes, edges)
        if g is not None:
            nodes, edges = self._frames(self._string_graph_small(*g), nodes, edges)
        else:
            for rnd in range(2):  # loop <= 2 rounds (BrushAssembler.java:347-367)
                cuts = cut(consensus_ops.cut_chimeric_links(
                    nodes, edges, p.majority, p.pwm_n))
                n_cut = cuts.count()
                self.counters[f"chimeric_cut_r{rnd}"] = n_cut
                if n_cut == 0:
                    break
                edges = cut(graph.remove_edges(edges, cuts))
            edges = cut(graph.transitive_reduction(nodes, edges))
            self.counters["edges_after_tr"] = edges.count()
            nodes, edges = self.compress_chains(nodes, edges)
        self._log(f"string graph: {self.counters['edges']} overlap edges, "
                  f"{self.counters['edges_after_tr']} after TR")
        return nodes, edges

    # -- compressChains (BrushAssembler.java:468-560) ----------------------
    def compress_chains(self, nodes: DataFrame, edges: DataFrame
                        ) -> tuple[DataFrame, DataFrame]:
        _, g = self._driver_graph("compress_chains", nodes, edges)
        if g is not None:
            return self._frames(self._compress_small(*g), nodes, edges)
        return self._contract(nodes, edges)

    def _contract(self, nodes: DataFrame, edges: DataFrame
                  ) -> tuple[DataFrame, DataFrame]:
        """Distributed chain contraction, for the loops of stages that
        were too large for the driver."""
        nodes, edges, rounds = contraction.contract_chains(
            nodes, edges, serial_threshold=self.params.serial_threshold,
            verbose=self.verbose)
        self.counters["compress_rounds"] = \
            self.counters.get("compress_rounds", 0) + rounds
        return cut(nodes), cut(edges)

    # -- removeTips (BrushAssembler.java:565-618) --------------------------
    def remove_tips(self, nodes: DataFrame, edges: DataFrame
                    ) -> tuple[DataFrame, DataFrame]:
        _, g = self._driver_graph("remove_tips", nodes, edges)
        if g is not None:
            return self._frames(self._tips_small(*g), nodes, edges)
        p = self.params
        total = 0
        # reference reports disconnected tip-short nodes separately
        # (tips_island, src/Brush/TipsRemoval.java:84-89); they are never
        # clipped, so count once up front
        islands = graph.count_tip_islands(nodes, edges, p.tiplength)
        self.counters["tips_island"] = \
            self.counters.get("tips_island", 0) + islands
        while True:
            doomed = cut(graph.find_tips(nodes, edges, p.tiplength))
            n = doomed.count()
            if n == 0:
                break
            total += n
            nodes, edges = graph.remove_nodes(nodes, edges, doomed)
            nodes, edges = self._contract(nodes, edges)
        self.counters["tips_removed"] = self.counters.get("tips_removed", 0) + total
        self._log(f"remove_tips: {total} tips removed, {islands} islands")
        return nodes, edges

    # -- popallbubbles (BrushAssembler.java:623-676) -----------------------
    def pop_all_bubbles(self, nodes: DataFrame, edges: DataFrame
                        ) -> tuple[DataFrame, DataFrame]:
        _, g = self._driver_graph("pop_all_bubbles", nodes, edges)
        if g is not None:
            return self._frames(self._bubbles_small(*g), nodes, edges)
        p = self.params
        total = 0
        while True:
            pops = cut(bubbles_ops.find_bubbles(
                nodes, edges, p.maxbubblelen, p.bubble_edit_rate))
            n = pops.count()
            if n == 0:
                break
            total += n
            nodes, edges = bubbles_ops.pop_bubbles(nodes, edges, pops)
            nodes, edges = self._contract(nodes, edges)
        self.counters["bubbles_popped"] = self.counters.get("bubbles_popped", 0) + total
        self._log(f"pop_all_bubbles: {total} popped")
        return nodes, edges

    # -- removelowcov (BrushAssembler.java:682-703) ------------------------
    def remove_low_cov(self, nodes: DataFrame, edges: DataFrame
                       ) -> tuple[DataFrame, DataFrame]:
        _, g = self._driver_graph("remove_low_cov", nodes, edges)
        if g is not None:
            return self._frames(self._low_cov_small(*g), nodes, edges)
        p = self.params
        doomed = cut(graph.low_coverage_nodes(
            nodes, p.low_cov_thresh, p.max_low_cov_len))
        self.counters["lowcov_removed"] = doomed.count()
        nodes, edges = self._contract(*graph.remove_nodes(nodes, edges, doomed))
        nodes, edges = self.remove_tips(nodes, edges)
        nodes, edges = self.pop_all_bubbles(nodes, edges)
        self._log(f"remove_low_cov: {self.counters['lowcov_removed']} removed")
        return nodes, edges

    # -- edgeAdjustment: C5 loop (BrushAssembler.java:400-464) -------------
    def edge_adjustment(self, nodes: DataFrame, edges: DataFrame
                        ) -> tuple[DataFrame, DataFrame]:
        _, g = self._driver_graph("edge_adjustment", nodes, edges)
        if g is not None:
            return self._frames(self._edge_adjust_small(*g), nodes, edges)
        p = self.params
        for _ in range(EDGE_ADJUST_ROUNDS):
            loops = graph.self_loops(edges)
            classified = graph.a_statistic(nodes, p.kmer_cov, p.readlen, p.k)
            uniq = classified.filter(F.col("unique")).select(
                F.col("node_id").alias("src"))
            boundary = graph.overlap_boundary_cuts(edges.join(uniq, "src"))
            removals = cut(loops.unionByName(boundary).distinct())
            n = removals.count()
            self.counters["edge_adjust_cuts"] = \
                self.counters.get("edge_adjust_cuts", 0) + n
            if n == 0:
                break
            edges = cut(graph.remove_edges(edges, removals))
            nodes, edges = self._contract(nodes, edges)
            self._log(f"edge_adjustment round: {n} cuts")
        return nodes, edges

    # -- pairedgeAdjustment: A2 -> J4 -> G2 loop (BrushAssembler.java:705-775)
    def pair_edge_adjustment(self, nodes: DataFrame, edges: DataFrame
                             ) -> tuple[DataFrame, DataFrame]:
        p = self.params
        for _ in range(EDGE_ADJUST_ROUNDS):
            counts = stats_ops.global_counts(nodes).collect()[0]
            removals = mates.adjust_mate_edges(
                nodes, edges, counts["reads"], counts["ctg_sum"],
                inslen=p.inslen, inslen_sd=p.inslen_sd)
            n = removals.count()
            self.counters["mate_edge_cuts"] = \
                self.counters.get("mate_edge_cuts", 0) + n
            if n == 0:
                break
            edges = cut(graph.remove_edges(edges, removals))
            nodes, edges = self._contract(nodes, edges)
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
        g = self._held_graph(nodes, edges)
        if g is not None:
            self.counters["final_nodes"], self.counters["final_edges"] = map(len, g)
        else:
            self.counters["final_nodes"] = nodes.count()
            self.counters["final_edges"] = edges.count()
        return nodes, edges

    def stats_report(self, nodes: DataFrame,
                     genome_size: int | None = None) -> dict:
        """The full A1 report: per-cutoff table, top-10 contigs, and the
        genome-target N50 when a genome size is given (the reference's
        ``-genome`` flag, src/Brush/Stats.java:363-411).  The table and the
        genome N50 are computed when this method is called; ``top`` is a
        lazy frame."""
        sized = nodes.withColumn("len", F.length("seq"))
        return stats_ops.stats_report(sized, "len", cov_col="cov",
                                      genome_size=genome_size)
