"""The three workloads: inputs, one timed pass, and output checks.

A pass calls the repository's public functions the way a user would and
wraps each call in a tracer span named after the layer it enters. Each
layer's output is materialized inside its own span, so Spark's lazy plans
do not push one layer's work into the next layer's span.

Every pass splits into two phases, reported as ``fit_s`` and
``bake_rows_per_s``:

* ``recipe_fit``: fit = ``Recipe.prep``; bake = ``FittedRecipe.bake`` of
  four held-out batches, each written to parquet (rows = held-out rows);
* ``assemble_pit``: fit = feature assembly plus the as-of join; bake = the
  sharded checkpoint writer (rows = joined label rows written);
* ``corpus_dedup``: fit = quality filter plus the three dedup layers;
  bake = BM25 scoring of four query batches, each written to parquet
  (rows = deduplicated documents scored per batch).

Where the bake runs in batches, ``bake_rows_per_s`` is the median over the
batches: the first batch of a fresh JVM carries one-off code generation
that makes a single short batch too noisy to compare runs by.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen


@dataclass
class PassResult:
    job_s: float
    fit_s: float
    bake_rows_per_s: float
    outputs: dict = field(default_factory=dict)


def _batched(batches, bake) -> float:
    """Run ``bake(k, batch)`` for each batch; the median rows per second
    over the batches. ``bake`` returns the rows it wrote."""
    rates = []
    for k, batch in enumerate(batches):
        t = time.time()
        rows = bake(k, batch)
        rates.append(rows / (time.time() - t))
    return float(np.median(rates))


def write_parquet(pdf: pd.DataFrame, path: str, files: int) -> None:
    """``files`` parquet files, each a single row group."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-len(pdf) // files)
    for k in range(files):
        part = table.slice(k * step, step)
        pq.write_table(part, os.path.join(path, f"part-{k:03d}.parquet"),
                       row_group_size=max(len(part), 1))


def _materialize(df):
    df = df.cache()
    df.count()
    return df


def _checksum(df) -> tuple[int, str]:
    """Order-independent (row count, digest) of a frame: the sum of
    xxhash64 over every column of every row."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


class Workload:
    name = ""
    input_rows = 0

    def __init__(self, seed: int, work: str, checksums: str):
        self.seed = seed
        self.work = work
        self.checksums = checksums
        self.shape: dict = {}

    def generate(self) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tracer) -> PassResult:
        raise NotImplementedError

    def verify(self, spark, res: PassResult) -> list[str]:
        """Failed output checks of one pass (empty when all pass)."""
        raise NotImplementedError

    @property
    def out_dir(self) -> str:
        return os.path.join(self.work, "out")


# ---- assemble_pit ----------------------------------------------------------

class AssemblePit(Workload):
    """Feature assembly, as-of join against a label spine, sharded write."""

    name = "assemble_pit"
    ASOF_SHARDS = 32
    CKPT_SHARDS = 4

    def generate(self) -> None:
        self.tx, self.spine, self.shape = gen.transcripts(self.seed)
        self.input_rows = len(self.tx)
        write_parquet(self.tx, os.path.join(self.work, "transcripts"), 8)
        write_parquet(self.spine, os.path.join(self.work, "spine"), 4)

    def run_pass(self, spark, tracer) -> PassResult:
        from recipeselectors_spark.operators import asof, assembly
        from recipeselectors_spark.sources import checkpoint

        t0 = time.time()
        tx = spark.read.parquet(os.path.join(self.work, "transcripts"))
        spine = spark.read.parquet(os.path.join(self.work, "spine"))
        with tracer.span("assembly"):
            feats = _materialize(assembly.assemble_features(tx))
        with tracer.span("asof"):
            joined = _materialize(asof.asof_join_cogroup(
                spine, feats, assembly.FEATURE_COLS,
                num_shards=self.ASOF_SHARDS,
            ))
        t1 = time.time()
        out = self.out_dir
        with tracer.span("sources.checkpoint"):
            manifests = checkpoint.run_sharded(
                joined, out, lambda d: d, num_shards=self.CKPT_SHARDS,
                max_concurrent=4,
            )
        t2 = time.time()
        rows = sum(m["n_rows"] for m in manifests)
        return PassResult(t2 - t0, t1 - t0, rows / (t2 - t1), {"out": out, "rows": rows})

    def verify(self, spark, res: PassResult) -> list[str]:
        import oracles
        from recipeselectors_spark.operators import assembly
        from recipeselectors_spark.sources import checkpoint

        fails = []
        written = checkpoint.read_sharded(spark, res.outputs["out"])
        if res.outputs["rows"] != len(self.spine):
            fails.append(f"pass wrote {res.outputs['rows']} rows, "
                         f"spine has {len(self.spine)}")
        fails += self._check_checksum(_checksum(written))

        # every written row against the pandas oracles
        feats = oracles.assemble_features(self.tx)
        want = oracles.asof_join(self.spine, feats, assembly.FEATURE_COLS)
        key = ["conv_id", "ts", "label"]
        cols = key + assembly.FEATURE_COLS
        got = written.select(*cols).toPandas()
        got = got.sort_values(key, kind="mergesort").reset_index(drop=True)
        want = want[cols].sort_values(key, kind="mergesort").reset_index(drop=True)
        got["ts"] = pd.to_datetime(got["ts"]).astype("datetime64[us]")
        want["ts"] = pd.to_datetime(want["ts"]).astype("datetime64[us]")
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                          check_exact=False, rtol=1e-9)
        except AssertionError as e:
            fails.append(f"written rows differ from the oracle: {e}")
        return fails

    def _check_checksum(self, written: tuple[int, str]) -> list[str]:
        """The order-independent checksum of the written shards must be the
        same on every run of this seed in this checkout: the first run
        records it under ``.perfbench/checksums``, later runs compare."""
        path = os.path.join(self.checksums, f"{self.name}-{self.seed}.txt")
        have = "/".join(map(str, written))
        if not os.path.exists(path):
            os.makedirs(self.checksums, exist_ok=True)
            with open(path, "w") as fh:
                fh.write(have)
            return []
        with open(path) as fh:
            first = fh.read()
        if have != first:
            return [f"written shards checksum {have}, an earlier run of this "
                    f"seed wrote {first}"]
        return []


# ---- recipe_fit ------------------------------------------------------------

def recipe_steps():
    """(layer name, step) pairs of the benchmark recipe, in order."""
    from recipeselectors_spark.operators import (
        CarScoreStep, ForestsStep, InfGainStep, MrmrStep, RocStep, XtabStep,
    )
    from recipeselectors_spark.plans.pipeline import NormalizeStep
    from recipeselectors_spark.plans.roles import columns

    num = columns(*gen.CONT, *gen.LOWC)
    nom = columns(*gen.NOMS)
    return [
        ("normalize", NormalizeStep(cols=list(gen.CONT))),
        ("infgain_mdl", InfGainStep("y", terms=num, top_p=15)),
        ("infgain_equal", InfGainStep("y", terms=num, top_p=12, equal=True)),
        ("roc", RocStep("y", terms=num, top_p=8)),
        ("xtab", XtabStep("y", terms=nom, top_p=3)),
        ("mrmr", MrmrStep("y", terms=[num, nom], top_p=9)),
        ("carscore", CarScoreStep("y_num", terms=num, top_p=6)),
        ("forests", ForestsStep("y", terms=num, top_p=5, trees=8,
                                max_depth=4, seed=7)),
    ]


class _TracedStep:
    """Opens a ``step.<name>`` span around one step's ``prep``."""

    def __init__(self, name, step, tracer):
        self.name, self.step, self.tracer = name, step, tracer

    def prep(self, df, roles=None):
        with self.tracer.span(f"step.{self.name}"):
            return self.step.prep(df, roles)


class RecipeFit(Workload):
    """``Recipe.prep`` of eight selection steps, then ``bake`` of held-out
    batches written to parquet."""

    name = "recipe_fit"
    TRAIN_ROWS = 5_000
    BAKE_BATCHES = 4
    BATCH_ROWS = 200_000

    def generate(self) -> None:
        self.train, self.shape = gen.feature_matrix(self.seed, self.TRAIN_ROWS)
        hold, _ = gen.feature_matrix(self.seed + 7919,
                                     self.BAKE_BATCHES * self.BATCH_ROWS)
        self.shape["bake_rows"] = len(hold)
        self.input_rows = self.TRAIN_ROWS
        write_parquet(self.train, os.path.join(self.work, "train"), 4)
        for k in range(self.BAKE_BATCHES):
            part = hold.iloc[k * self.BATCH_ROWS:(k + 1) * self.BATCH_ROWS]
            write_parquet(part, os.path.join(self.work, f"holdout-{k}"), 4)

    def run_pass(self, spark, tracer) -> PassResult:
        from recipeselectors_spark.plans.pipeline import Recipe

        t0 = time.time()
        train = spark.read.parquet(os.path.join(self.work, "train"))
        rec = Recipe()
        for name, step in recipe_steps():
            rec.add(_TracedStep(name, step, tracer) if tracer.enabled else step)
        with tracer.span("plans.prep"):
            fitted = rec.prep(train)
        t1 = time.time()
        out = self.out_dir

        def bake(k, path):
            fitted.bake(spark.read.parquet(path)).write.parquet(
                os.path.join(out, f"batch-{k}"))
            return self.BATCH_ROWS

        with tracer.span("plans.bake"):
            rate = _batched([os.path.join(self.work, f"holdout-{k}")
                             for k in range(self.BAKE_BATCHES)], bake)
        t2 = time.time()
        return PassResult(t2 - t0, t1 - t0, rate, {"fitted": fitted, "out": out})

    def verify(self, spark, res: PassResult) -> list[str]:
        import oracles
        from recipeselectors_spark.plans.pipeline import FittedNormalize

        fails = []
        fitted = res.outputs["fitted"]
        lost = [c for c in gen.INFORMATIVE if c in fitted.exclude]
        if lost:
            fails.append(f"planted informative features excluded: {lost}")

        pdf = self.train.copy()
        oracle_of = {
            "infgain_mdl": lambda d, x: oracles.infgain_scores(d, x, "y"),
            "infgain_equal": lambda d, x: oracles.infgain_scores(d, x, "y", equal=True),
            "roc": lambda d, x: oracles.roc_scores(d, x, "y"),
            "xtab": lambda d, x: oracles.xtab_scores(d, x, "y"),
            "mrmr": lambda d, x: oracles.mrmr_scores(d, x, "y"),
            "carscore": lambda d, x: oracles.carscore_scores(d, x, "y_num"),
        }
        for (name, _), f in zip(recipe_steps(), fitted.steps):
            if isinstance(f, FittedNormalize):
                for c, (mu, sd) in f.stats.items():
                    pdf[c] = (pdf[c] - mu) / (sd if sd else 1.0)
                continue
            if name in oracle_of:
                x = list(f.scores)
                want = oracle_of[name](pdf, x)
                got = np.array([f.scores[c] for c in x], dtype=float)
                exp = np.array([want[c] for c in x], dtype=float)
                if not np.allclose(got, exp, rtol=1e-6, atol=1e-9, equal_nan=True):
                    bad = {c: (f.scores[c], want[c]) for c in x
                           if not np.isclose(f.scores[c], want[c], rtol=1e-6, atol=1e-9)}
                    fails.append(f"step {name} scores differ from oracle: {bad}")
            pdf = pdf.drop(columns=[c for c in f.exclude if c in pdf.columns])

        baked = spark.read.parquet(os.path.join(res.outputs["out"], "batch-*"))
        n = baked.count()
        if n != self.BAKE_BATCHES * self.BATCH_ROWS:
            fails.append(f"baked {n} rows, expected {self.BAKE_BATCHES * self.BATCH_ROWS}")
        want_cols = [c for c in self.train.columns if c not in fitted.exclude]
        if sorted(baked.columns) != sorted(want_cols):
            fails.append(f"baked columns {sorted(baked.columns)} != {sorted(want_cols)}")
        return fails


# ---- corpus_dedup ----------------------------------------------------------

class CorpusDedup(Workload):
    """Quality filter, exact and MinHash dedup, components, BM25."""

    name = "corpus_dedup"
    QUERY_BATCHES = 4

    def generate(self) -> None:
        self.docs, self.queries, self.shape = gen.corpus(self.seed)
        self.input_rows = len(self.docs)
        # one file, one row group: the scan is a single task, which is the
        # layout that makes the operators spread their narrow stages
        write_parquet(self.docs[["doc_id", "text"]], os.path.join(self.work, "docs"), 1)
        write_parquet(self.queries, os.path.join(self.work, "queries"), 1)

    def run_pass(self, spark, tracer) -> PassResult:
        from pyspark.sql import functions as F
        from recipeselectors_spark.operators import bm25, dedup, quality_filter

        t0 = time.time()
        docs = spark.read.parquet(os.path.join(self.work, "docs"))
        queries = spark.read.parquet(os.path.join(self.work, "queries"))
        with tracer.span("quality_filter"):
            kept = _materialize(quality_filter.quality_filter(docs))
        with tracer.span("dedup.exact"):
            reps = dedup.dedup_exact(kept).select("doc_id")
            uniq = _materialize(kept.join(reps, "doc_id", "left_semi"))
        with tracer.span("dedup.minhash") as sp:
            pairs = _materialize(dedup.minhash_dedup_pairs(uniq))
            n_pairs = pairs.count()
            if sp is not None:
                sp.counts["confirmed_pairs"] = n_pairs
        with tracer.span("dedup.components"):
            comp = dedup.connected_components(pairs, uniq.select("doc_id"))
            roots = comp.where(F.col("doc_id") == F.col("cluster")).select("doc_id")
            final = _materialize(uniq.join(roots, "doc_id", "left_semi"))
        t1 = time.time()
        out = self.out_dir
        n_docs = final.count()

        def bake(k, batch):
            bm25.bm25_scores(final, batch).write.parquet(
                os.path.join(out, f"batch-{k}"))
            return n_docs

        with tracer.span("bm25"):
            rate = _batched([queries.where(F.col("q_id") % self.QUERY_BATCHES == k)
                             for k in range(self.QUERY_BATCHES)], bake)
        t2 = time.time()
        kept_ids = sorted(r[0] for r in final.select("doc_id").collect())
        return PassResult(t2 - t0, t1 - t0, rate,
                          {"kept_ids": kept_ids, "out": out, "pairs": n_pairs})

    def candidate_pairs(self, spark) -> int:
        """Distinct LSH candidate pairs among the exact-deduplicated kept
        documents: the pairs ``minhash_dedup_pairs`` verifies."""
        from pyspark.sql import functions as F
        from recipeselectors_spark.operators import dedup, quality_filter

        docs = spark.read.parquet(os.path.join(self.work, "docs"))
        kept = quality_filter.quality_filter(docs)
        uniq = kept.join(dedup.dedup_exact(kept).select("doc_id"), "doc_id", "left_semi")
        cand = dedup.minhash_candidates(dedup.with_minhash(uniq), num_perm=32)
        return (
            cand.alias("a").join(cand.alias("b"), ["band", "bucket"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select("a.doc_id", "b.doc_id").distinct().count()
        )

    def verify(self, spark, res: PassResult) -> list[str]:
        fails = []
        d = self.docs
        expect = set(d.loc[d["family"] == -1, "doc_id"])
        fams = d[d["family"] >= 0].groupby("family")["doc_id"].min()
        expect |= set(fams.tolist())
        got = res.outputs["kept_ids"]
        if set(got) != expect:
            missing = sorted(expect - set(got))[:5]
            extra = sorted(set(got) - expect)[:5]
            fails.append(f"dedup kept {len(got)} docs, expected {len(expect)}; "
                         f"missing {missing} extra {extra}")
        fam_of = d.set_index("doc_id")["family"]
        per_family = fam_of.loc[got]
        per_family = per_family[per_family >= 0].value_counts()
        if (per_family != 1).any() or len(per_family) != len(fams):
            fails.append("a planted family did not collapse to exactly one "
                         "representative, or two families merged")
        scores = spark.read.parquet(os.path.join(res.outputs["out"], "batch-*")).toPandas()
        toks = d.set_index("doc_id").loc[got, "text"].str.lower().str.split()
        want = set()
        for q, text in zip(self.queries["q_id"], self.queries["query"]):
            terms = set(text.split())
            for doc_id, tk in toks.items():
                if terms.intersection(tk):
                    want.add((int(q), int(doc_id)))
        have = set(zip(scores["q_id"].astype(int), scores["doc_id"].astype(int)))
        if have != want:
            fails.append(f"bm25 scored {len(have)} (query, doc) pairs, expected {len(want)}")
        if len(scores) and not (scores["bm25"] > 0).all():
            fails.append("bm25 produced non-positive scores")
        return fails


WORKLOADS = {w.name: w for w in (AssemblePit, RecipeFit, CorpusDedup)}
