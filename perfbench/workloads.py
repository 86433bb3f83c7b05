"""The benchmark's workloads: seeded inputs, the timed call, its check.

Each workload makes its inputs from the seed alone, runs one public entry
point of the library per timed call, and checks that call's outputs. The
traced form of a call is the same call with the layer functions the entry
point uses wrapped in spans (``tracing.Tracer.patched``), so the traced
run cannot drift from the untraced one; ``check`` returns a signature of
the outputs that the run compares between the two anyway.
"""

from __future__ import annotations

import hashlib
import random
import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from record_matcher_spark import incremental, matcher, pipeline
from record_matcher_spark.config import ColumnRule, MatchConfig
from record_matcher_spark.datagen import generate_transcripts
from record_matcher_spark.oracle import oracle_match

PARTITIONS = 4
# Pairwise F1 over every pair of conversations. Blocking's cap on the hot
# role-sequence block leaves 100-160 true pairs of 1,000 entities without
# a candidate, so the pipeline scores 0.967-0.979 on seeds 1-10; the gate
# leaves room for other seeds.
F1_GATE = 0.95
# Pairwise F1 over the candidate pairs only (``pipeline.pairwise_f1``, the
# "identical blocking keys" figure): what scoring and clustering get right
# of what blocking let through.
CANDIDATE_F1_GATE = 0.99


@dataclass
class Result:
    items: int  # conversations, x records or edges handled by the call
    handle: object = None


@dataclass
class Quality:
    ok: bool
    f1: float
    precision: float
    recall: float
    signature: tuple  # what the traced call must reproduce
    detail: str = ""
    extra: dict = field(default_factory=dict)


def order_free_hash(df: DataFrame, cols=None) -> tuple[int, str]:
    """(row count, exact sum of xxhash64 over the given columns): equal
    for equal multisets of rows, whatever their order or partitioning."""
    cols = cols or df.columns
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"] or 0)


def partition_hash(assign: dict) -> str:
    """Order-free hash of a ``conv_id -> cluster_id`` assignment."""
    rows = "\n".join(f"{k}\t{v}" for k, v in sorted(assign.items()))
    return hashlib.sha256(rows.encode()).hexdigest()[:16]


def pair_counts(assign: dict, truth: dict) -> tuple[int, int, int]:
    """(true positive, predicted, true) pair counts over every unordered
    pair of the assigned conversations: a pair is predicted when both share
    a cluster and true when both share a truth entity."""

    def pairs(groups: Counter) -> int:
        return sum(n * (n - 1) // 2 for n in groups.values())

    return (pairs(Counter((assign[c], truth[c]) for c in assign)),
            pairs(Counter(assign.values())),
            pairs(Counter(truth[c] for c in assign)))


def _prf(tp: int, n_pred: int, n_true: int) -> tuple[float, float, float]:
    precision = tp / n_pred if n_pred else 1.0
    recall = tp / n_true if n_true else 1.0
    f1 = (2 * precision * recall / (precision + recall)
          if precision + recall else 0.0)
    return f1, precision, recall


class Workload:
    name = ""
    items = ""  # what one item of throughput is
    sizes: dict = {}  # "full" / "smoke" -> input size parameter
    module = None  # the module whose layer functions a traced call wraps
    layers: dict = {}  # attribute of ``module`` -> layer

    def setup(self, spark, seed: int, size: int) -> None:
        raise NotImplementedError

    def fingerprint(self) -> tuple[int, str]:
        raise NotImplementedError

    def call(self) -> Result:
        raise NotImplementedError

    def traced_call(self, tracer) -> Result:
        with tracer.patched(self.module, self.layers):
            return self.call()

    def check(self, result: Result) -> Quality:
        raise NotImplementedError

    def release(self, result: Result) -> None:
        pass

    def teardown(self) -> None:
        for df in self.inputs:
            df.unpersist()

    def gates(self, spark, seed: int) -> list[tuple[str, bool, str]]:
        """One-off correctness gates beyond the per-call check."""
        return []

    def probes(self, spark) -> tuple[dict, list[tuple[str, bool, str]]]:
        """Traced-run-only per-layer metrics and their gates."""
        return {}, []


# ---------------------------------------------------------------- batch_dedup


def _collect_assignment(clusters: DataFrame) -> dict:
    """``conv_id -> cluster_id``; a conversation assigned twice raises."""
    rows = clusters.select("conv_id", "cluster_id").collect()
    assign = dict(rows)
    if len(assign) != len(rows):
        raise ValueError(f"{len(rows) - len(assign)} conversations are "
                         f"assigned to more than one cluster")
    return assign


def _partition_quality(assign: dict, truth: dict) -> Quality:
    """Pairwise F1 >= F1_GATE against the truth over every pair of
    conversations; every truth conversation must be assigned exactly once."""
    tp, n_pred, n_true = pair_counts(assign, truth)
    f1, precision, recall = _prf(tp, n_pred, n_true)
    covered = assign.keys() == truth.keys()
    return Quality(
        covered and f1 >= F1_GATE, f1, precision, recall, (),
        f"all-pairs f1={f1:.5f} tp={tp} fp={n_pred - tp} fn={n_true - tp}"
        + ("" if covered else f"; {len(assign)} conversations assigned, "
           f"{len(truth)} in the truth"),
    )


class BatchDedup(Workload):
    """``match_transcripts(edge_mode="threshold")`` over a datagen corpus."""

    name = "batch_dedup"
    items = "conversations"
    sizes = {"full": 1000, "smoke": 40}  # entities
    module = pipeline
    layers = {
        "rollup_conversations": "rollup",
        "candidate_pairs": "blocking",
        "score_candidate_pairs": "scoring",
        "connected_components": "cluster",
    }

    def setup(self, spark, seed, size):
        t, truth = generate_transcripts(
            spark, size, seed=seed, num_partitions=PARTITIONS
        )
        self.transcripts = t.cache()
        # The truth is the benchmark's, not the program's: it is generated
        # and collected on the first check, outside the set-up.
        self.truth_df = truth
        self.truth = None
        self.inputs = [self.transcripts]
        self.transcripts.count()
        self.first = None

    def fingerprint(self):
        return order_free_hash(self.transcripts)

    def call(self):
        r = pipeline.match_transcripts(self.transcripts, edge_mode="threshold")
        return Result(r.clusters.count(), r)

    def check(self, result):
        """All-pairs F1 against the truth (``_partition_quality``). A call
        whose scored pairs or partition differ from the first checked
        call's is also held to CANDIDATE_F1_GATE over its candidates."""
        if self.truth is None:
            self.truth = dict(self.truth_df.collect())
        r = result.handle
        assign = _collect_assignment(r.clusters)
        q = _partition_quality(assign, self.truth)
        q.signature = (r.pairs.count(), partition_hash(assign))
        if self.first is None or q.signature != self.first:
            self.first = self.first or q.signature
            c = pipeline.pairwise_f1(r.clusters, self.truth_df, r.candidates)
            q.ok = q.ok and c["f1"] >= CANDIDATE_F1_GATE
            q.detail += f"; candidate-pair f1={c['f1']:.5f} fn={c['fn']}"
        return q

    def release(self, result):
        release_persisted(result.handle)

    def probes(self, spark):
        """The incremental layer, called as documented: a held-out ~5%
        slice of the corpus is folded into the clustered rest with
        ``match_increment`` + ``apply_merges``, whose base arguments are
        the live ``conversations`` and ``clusters`` of the base's own
        ``match_transcripts`` result. That fold is traced for the metrics
        and gated. The untraced fold it must reproduce takes checkpointed
        copies of the same base tables instead; its time is logged beside
        the traced fold's as a comparison."""
        from tracing import Tracer

        if self.truth is None:
            self.truth = dict(self.truth_df.collect())
        held_out = F.pmod(F.xxhash64("conv_id"), F.lit(20)) == 0
        batch = self.transcripts.where(held_out)
        base = pipeline.match_transcripts(
            self.transcripts.where(~held_out), edge_mode="threshold"
        )
        base_labels = set(_collect_assignment(base.clusters).values())

        def fold(base_conv, base_clusters):
            """The fold with both outputs collected, and its wall time."""
            t0 = time.perf_counter()
            inc = incremental.match_increment(batch, base_conv, base_clusters)
            assigned = _collect_assignment(inc.assignments)
            merged = _collect_assignment(
                incremental.apply_merges(base_clusters, inc.merges))
            return inc, assigned, merged, time.perf_counter() - t0

        ref, ref_assigned, ref_merged, ref_wall = fold(
            base.conversations.localCheckpoint(),
            base.clusters.localCheckpoint())
        tracer = Tracer(spark.sparkContext)
        with tracer.span("incremental") as sp:
            with tracer.patched(incremental, self.layers):
                inc, assigned, merged, wall = fold(
                    base.conversations, base.clusters)
            sp.rows_out = len(assigned)
        stats = tracer.layer_stats()

        batch_ids = {r[0] for r in inc.conversations.select("conv_id").collect()}
        merges = inc.merges.collect()
        bad_targets = sum(v not in base_labels for m in merges for v in m)
        q = _partition_quality({**merged, **assigned}, self.truth)
        gates = [
            ("incremental.assigned", assigned.keys() == batch_ids
             and None not in assigned.values(),
             f"{len(assigned)} assignments for {len(batch_ids)} batch "
             f"conversations, {sum(v is None for v in assigned.values())} "
             f"without a cluster"),
            ("incremental.merge_targets", bad_targets == 0,
             f"{len(merges)} merges, {bad_targets} labels that are not "
             f"base labels"),
            ("incremental.f1", q.ok, q.detail),
            ("incremental.drift", (
                inc.pairs.count(), assigned, merged) == (
                ref.pairs.count(), ref_assigned, ref_merged),
             "the traced fold reproduces the untraced fold's pairs and "
             "partitions"),
        ]
        inc_stats = stats.pop("incremental")
        metrics = {f"incremental.{k}": v for k, v in inc_stats.items()}
        metrics["incremental.cands_per_batch_conv"] = (
            inc.candidates.count() / len(batch_ids) if batch_ids else 0.0
        )
        breakdown = {layer: round(d["wall_s"], 3) for layer, d in stats.items()}
        breakdown["incremental(self)"] = round(inc_stats["wall_s"], 3)
        print(f"# increment probe: batch of {len(batch_ids)} conversations; "
              f"traced fold on the live base {wall:.3f} s, untraced fold on "
              f"the checkpointed base {ref_wall:.3f} s; traced self wall "
              f"seconds by layer {breakdown}", flush=True)
        for r in (ref, inc, base):
            release_persisted(r)
        tracer.release()
        return metrics, gates


def release_persisted(result) -> None:
    """Unpersist every DataFrame a pipeline or increment result persisted,
    waiting until the storage is freed, so the next call starts clean."""
    for df in result.persisted:
        df.unpersist(blocking=True)
    result.persisted.clear()


# ---------------------------------------------------------------- tabular_jw

_SYLLABLES = ("an", "be", "ca", "do", "el", "fi", "ga", "ho", "is", "ju",
              "ka", "lo", "mi", "no", "pa", "ri", "sa", "to", "ul", "va",
              "we", "yo", "za", "mar", "tin", "son", "ber", "lee", "kin")
_STREETS = ("oak", "elm", "pine", "main", "hill", "lake", "park", "mill",
            "river", "cedar", "maple", "church")
_KINDS = ("street", "road", "avenue", "lane", "way", "court")
_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_NAME_SCHEMA = StructType([
    StructField("row_id", LongType(), False),
    StructField("name", StringType(), False),
    StructField("address", StringType(), False),
    StructField("grp", StringType(), False),
])
NAME_CFG = MatchConfig(
    rules=(
        ColumnRule("name", ("name",), scorer="jaro_winkler", threshold=90.0,
                   cutoff=True),
        ColumnRule("address", ("address",), scorer="token_set_jaccard",
                   threshold=50.0),
    ),
    columns_to_group={"grp": "grp"},
    required_threshold=75.0,
)


def _word(rng: random.Random, lo: int, hi: int) -> str:
    return "".join(rng.choice(_SYLLABLES)
                   for _ in range(rng.randint(lo, hi))).capitalize()


def _person(rng: random.Random) -> tuple[str, str]:
    name = f"{_word(rng, 2, 3)} {_word(rng, 2, 4)}"
    address = (f"{rng.randint(1, 999)} {rng.choice(_STREETS)} "
               f"{rng.choice(_KINDS)} {_word(rng, 2, 3)}")
    return name, address


def _typo(s: str, rng: random.Random) -> str:
    i = rng.randrange(len(s) - 1)
    op = rng.randrange(3)
    if op == 0:
        return s[:i] + s[i + 1] + s[i] + s[i + 2:]
    if op == 1:
        return s[:i] + s[i + 1:]
    return s[:i] + rng.choice(_LETTERS) + s[i + 1:]


def name_tables(seed: int, n: int, block: int = 50):
    """x and y rows ``(row_id, name, address, grp)`` in ``n // block``
    blocks of equal size, plus the ids whose y row is a perturbed copy of
    the x row with the same id (the rest of y are unrelated distractors).
    Equal blocks give every seed the same number of candidate pairs."""
    rng = random.Random(seed)
    n_blocks = max(1, n // block)
    xs, ys, truth = [], [], set()
    for i in range(n):
        grp = f"g{i % n_blocks:04d}"
        name, address = _person(rng)
        xs.append((i, name, address, grp))
        if rng.random() < 0.8:
            words = address.split()
            if rng.random() < 0.3:
                words.pop(rng.randrange(len(words)))
            y_name = _typo(name, rng) if rng.random() < 0.6 else name
            ys.append((i, y_name, " ".join(words), grp))
            truth.add(i)
        else:
            ys.append((i, *_person(rng), grp))
    return xs, ys, truth


class TabularJW(Workload):
    """``match_records`` (best match + duplicate resolution) over seeded,
    perturbed name tables blocked on a group column."""

    name = "tabular_jw"
    items = "x records"
    sizes = {"full": 2500, "smoke": 400}  # rows per side
    module = matcher
    layers = {"score_pairs": "scoring", "resolve_matches": "resolve"}

    def setup(self, spark, seed, size):
        xs, ys, self.truth = name_tables(seed, size)
        self.x = spark.createDataFrame(xs, _NAME_SCHEMA).cache()
        self.y = spark.createDataFrame(ys, _NAME_SCHEMA).cache()
        self.inputs = [self.x, self.y]
        self.x.count()
        self.y.count()
        self.baseline_counts = None

    def fingerprint(self):
        nx, hx = order_free_hash(self.x)
        ny, hy = order_free_hash(self.y.select(F.lit("y"), "*"))
        return nx + ny, str(int(hx) + int(hy))

    def call(self):
        out = matcher.match_records(self.x, self.y, NAME_CFG).select(
            "row_id", "match_status", "row(s)_matched"
        )
        rows = out.collect()
        return Result(len(rows), rows)

    def check(self, result):
        counts: dict[str, int] = {}
        tp = n_pred = 0
        for r in result.handle:
            counts[r["match_status"]] = counts.get(r["match_status"], 0) + 1
            if r["match_status"] == "MATCHED":
                n_pred += 1
                tp += (r["row_id"] in self.truth
                       and r["row(s)_matched"] == str(r["row_id"]))
        if self.baseline_counts is None:
            self.baseline_counts = counts
        f1, precision, recall = _prf(tp, n_pred, len(self.truth))
        ok = counts == self.baseline_counts
        return Quality(
            ok, f1, precision, recall,
            (tuple(sorted(counts.items())), tp),
            f"status counts {counts}"
            + ("" if ok else f" differ from {self.baseline_counts}"),
            {"resolve.matched_frac": n_pred / max(1, len(result.handle))},
        )

    def gates(self, spark, seed):
        """Differential check against the pure-Python reference oracle on
        a small table made from the same seed."""
        xs, ys, _ = name_tables(seed, 48, block=12)
        cols = ("name", "address", "grp")
        x_rec = {r[0]: dict(zip(cols, r[1:])) for r in xs}
        y_rec = {r[0]: dict(zip(cols, r[1:])) for r in ys}
        got = {
            r["row_id"]: (r["match_status"], r["row(s)_matched"])
            for r in matcher.match_records(
                spark.createDataFrame(xs, _NAME_SCHEMA),
                spark.createDataFrame(ys, _NAME_SCHEMA), NAME_CFG,
            ).collect()
        }
        exp_rows, _, _ = oracle_match(x_rec, y_rec, NAME_CFG)
        exp = {i: (r["match_status"], r["row(s)_matched"])
               for i, r in exp_rows.items()}
        diff = sorted(i for i in exp if got.get(i) != exp[i])
        return [("tabular_jw.oracle", not diff and set(got) == set(exp),
                 f"{len(diff)} of {len(exp)} rows differ from the oracle"
                 + (f", first {diff[0]}: {got.get(diff[0])} != "
                    f"{exp[diff[0]]}" if diff else ""))]


WORKLOADS = {w.name: w for w in (BatchDedup, TabularJW)}
