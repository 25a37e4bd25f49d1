"""The benchmark's three workloads: seeded input generation, the
operations of one pass, and the checks of their outputs against
computations made apart from the program.

An operation returns a DataFrame, whose every output column the runner
forces (harness.force), or, when it writes its output itself (the
checkpointed backfill, the CLI), a fingerprint of what it wrote. Every
input is generated from the run's seed at a fixed size, so each seed
does the same amount of work.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil

import numpy as np
import pandas as pd

from harness import force_cols

KERNELS_TRANSCRIPT = ("composition", "coverage", "minimiser_runs", "cgr")
KERNELS_CORPUS = ("minhash", "token_counts", "repetition")
KERNELS_READS = ("composition", "coverage", "minimiser_runs")

_VALID = re.compile(r"[ACGTUacgtu]+")
_TR = str.maketrans("acgtuU", "ACGTTT")
_COMP = str.maketrans("ACGT", "TGCA")
# Spark reads microsecond timestamps only
_PARQUET = {"index": False, "coerce_timestamps": "us", "allow_truncated_timestamps": True}


# ------------------------------------------------ independent references


def _canonical_slots(k: int) -> dict[str, int]:
    """Canonical k-mer -> vector slot: k-mers over ACGT in lexicographic
    order, keeping those not larger than their reverse complement."""
    kmers = [""]
    for _ in range(k):
        kmers = [p + c for p in kmers for c in "ACGT"]
    canon = [s for s in kmers if s <= s.translate(_COMP)[::-1]]
    return {s: i for i, s in enumerate(canon)}


def canonical_counts(text: str, k: int) -> dict[str, int]:
    """Canonical k-mer counts of the maximal runs of valid bases."""
    out: dict[str, int] = {}
    for run in _VALID.findall(text or ""):
        run = run.translate(_TR)
        for i in range(len(run) - k + 1):
            s = run[i : i + k]
            rc = s.translate(_COMP)[::-1]
            c = min(s, rc)
            out[c] = out.get(c, 0) + 1
    return out


def composition_ref(text: str, k: int, slots: dict[str, int]) -> np.ndarray:
    vec = np.zeros(len(slots))
    for s, c in canonical_counts(text, k).items():
        vec[slots[s]] += c
    tot = vec.sum()
    return vec / tot if tot else vec


def valid_kmer_total(texts, k: int) -> int:
    return sum(
        max(0, len(run) - k + 1) for t in texts for run in _VALID.findall(t or "")
    )


def _bad_vectors(df, col: str) -> int:
    """Rows whose vector neither sums to 1 nor is all zeros."""
    from pyspark.sql import functions as F

    s = F.aggregate(col, F.lit(0.0), lambda a, x: a + x)
    return df.where(~((F.abs(s - 1.0) < 1e-9) | (s == 0.0))).count()


def _sample_vectors(spark, out, pdf, keys, seed, k, slots, n=64) -> list[str]:
    """Compare `vec` on a seeded sample of rows with composition_ref."""
    sample = pdf.sample(n=min(n, len(pdf)), random_state=seed)[list(keys) + ["text"]]
    got = out.join(spark.createDataFrame(sample[list(keys)]), list(keys)).select(
        *keys, "vec"
    ).toPandas()
    merged = sample.merge(got, on=list(keys), how="left")
    errs = []
    for row in merged.itertuples(index=False):
        vec = row.vec
        if vec is None or (isinstance(vec, float) and np.isnan(vec)):
            errs.append(f"no output row for {[getattr(row, c) for c in keys]}")
            continue
        if not np.allclose(np.asarray(vec), composition_ref(row.text, k, slots), atol=1e-9):
            errs.append(f"vector differs for {[getattr(row, c) for c in keys]}")
    return errs[:3]


def _asof_reference(t_pdf: pd.DataFrame, p_pdf: pd.DataFrame) -> pd.DataFrame:
    """DuckDB ASOF JOIN, strict <, ties at equal ts to the largest turn_idx."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("t_raw", t_pdf[["conv_id", "turn_idx", "ts", "text_len"]])
        con.register("p", p_pdf[["conv_id", "probe_ts"]])
        return con.execute(
            """
            WITH t AS (
              SELECT conv_id, ts,
                     max(turn_idx) AS turn_idx,
                     arg_max(text_len, turn_idx) AS text_len
              FROM t_raw GROUP BY conv_id, ts)
            SELECT p.conv_id, p.probe_ts,
                   t.turn_idx AS ref_turn_idx, t.text_len AS ref_text_len
            FROM p ASOF LEFT JOIN t
              ON p.conv_id = t.conv_id AND p.probe_ts > t.ts
            """
        ).df()
    finally:
        con.close()


def _check_asof(got: pd.DataFrame, t_pdf, p_pdf) -> list[str]:
    ref = _asof_reference(t_pdf, p_pdf)
    errs = []
    if len(got) != len(ref):
        errs.append(f"asof: {len(got)} rows, reference {len(ref)}")
    m = ref.merge(got, on=["conv_id", "probe_ts"], how="left")
    a = m["asof_turn_idx"].astype("Int64")
    b = m["ref_turn_idx"].astype("Int64")
    c = m["asof_text_len"].astype("Int64")
    d = m["ref_text_len"].astype("Int64")
    bad = ~((a == b).fillna(False) | (a.isna() & b.isna()))
    bad |= ~((c == d).fillna(False) | (c.isna() & d.isna()))
    if bad.any():
        errs.append(f"asof: {int(bad.sum())} probes differ from DuckDB ASOF JOIN")
    matched = int(b.notna().sum())
    known = int(p_pdf["conv_id"].isin(set(t_pdf["conv_id"])).sum())
    if matched == 0 or matched < known // 2:
        errs.append(f"asof: only {matched} of {known} probes of known conversations matched")
    return errs


def _digest(path: str) -> str:
    """sha1 over the bytes of a file, or over the names and bytes of
    every file under a directory."""
    h = hashlib.sha1()
    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "**"), recursive=True)
    )
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, path).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
        if os.path.isfile(p)
    ) / 1e6


# ------------------------------------------------------------- workloads


class Workload:
    name = ""
    op_names: tuple[str, ...] = ()
    kernels: tuple[str, ...] = ()

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.rows = 0
        self.cached: list = []

    def generate(self) -> None:
        raise NotImplementedError

    def load(self, spark) -> None:
        raise NotImplementedError

    def ops(self, spark) -> list:
        """(name, operation) pairs of one pass, in order."""
        raise NotImplementedError

    def check(self, spark, outs: dict) -> list[str]:
        """Errors found in the outputs; `outs` maps each operation to
        what its run in the warm pass returned, DataFrames cached."""
        raise NotImplementedError

    def kernel_texts(self, spark) -> list[str]:
        raise NotImplementedError

    def unload(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached = []

    def _cache(self, df):
        df = df.cache()
        df.count()
        self.cached.append(df)
        return df


class _Transcripts(Workload):
    """Shared forcing of the transcript operations."""

    def _backfill(self):
        from kmertools_spark.operators import backfill_features_stream

        return backfill_features_stream(self.t, k=4, n_turns=3)

    def _asof(self):
        from pyspark.sql import functions as F

        from kmertools_spark.operators import asof_join

        return asof_join(
            self.t.withColumn("text_len", F.length("text")),
            self.p,
            value_cols=("turn_idx", "text_len"),
        )

    def kernel_texts(self, spark):
        rows = self.t.orderBy("conv_id", "turn_idx").select("text").limit(4096).collect()
        return [r.text for r in rows]

    def _check_common(self, spark, t_pdf, outs) -> list[str]:
        errs = []
        out = outs["backfill"]
        n = out.count()
        if n != self.rows:
            errs.append(f"backfill: {n} rows for {self.rows} turns")
        bad = _bad_vectors(out, "vec")
        if bad:
            errs.append(f"backfill: {bad} vectors neither sum to 1 nor are all zeros")
        errs += _sample_vectors(
            spark, out, t_pdf, ("conv_id", "turn_idx"), self.seed, 4, _canonical_slots(4)
        )
        p_pdf = self.p.toPandas()
        t_pdf = t_pdf.assign(text_len=t_pdf["text"].fillna("").str.len())
        errs += _check_asof(outs["asof"].toPandas(), t_pdf, p_pdf)
        return errs


class TranscriptsUniform(_Transcripts):
    """Events shaped like the sf0.1 table (~67 events per user,
    five event types, 30 days) derived into transcripts by the program's
    shared TRANSCRIPTS_SQL, replicated REP times by shifting user ids so
    that the derived probes replicate with their conversations."""

    name = "transcripts_uniform"
    op_names = ("backfill", "asof", "counts_cov", "minruns", "cgr", "backfill_checkpointed")
    # the document kernels too, on transcript text, as no workload
    # runs the document pipeline
    kernels = KERNELS_TRANSCRIPT + KERNELS_CORPUS
    USERS, EVENTS, REP, BUCKETS = 60, 4_000, 4, 2

    def generate(self):
        rng = np.random.RandomState(self.seed)
        e = self.EVENTS
        ts = np.sort(rng.randint(0, 30 * 86400 * 1000, size=e)).astype("int64")
        ev = pd.DataFrame(
            {
                "event_id": np.arange(e, dtype="int64"),
                "ts": pd.to_datetime(ts + 1_704_067_200_000, unit="ms"),
                "user_id": rng.randint(0, self.USERS, size=e).astype("int64"),
                "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
                    rng.randint(0, 5, size=e)
                ],
                "value": np.round(rng.random(e) * 150, 2),
                "props": ['{"k": %d}' % v for v in rng.randint(0, 100, size=e)],
            }
        )
        reps = [ev.assign(user_id=ev["user_id"] + r * self.USERS) for r in range(self.REP)]
        path = os.path.join(self.work, "events.parquet")
        os.makedirs(path, exist_ok=True)
        for r, part in enumerate(reps):
            part.to_parquet(os.path.join(path, f"part-{r:03d}.parquet"), **_PARQUET)
        self.rows = e * self.REP

    def load(self, spark):
        from kmertools_spark.sources import PROBES_SQL, TRANSCRIPTS_SQL

        spark.read.parquet(os.path.join(self.work, "events.parquet")).createOrReplaceTempView(
            "events"
        )
        self.t = self._cache(spark.sql(TRANSCRIPTS_SQL))
        self.p = self._cache(spark.sql(PROBES_SQL).distinct())

    def _counts_cov(self):
        from kmertools_spark.operators import coverage_features, global_kmer_counts

        counts = global_kmer_counts(self.t, k=4)
        return coverage_features(self.t, counts, k=4, bin_size=4, bin_count=8)

    def _cgr(self):
        from pyspark.sql import functions as F

        from kmertools_spark.functions import cgr_points

        clean = F.regexp_replace("text", "[^ACGTUacgtu]", "")
        return self.t.select("conv_id", "turn_idx", cgr_points(1.0)(clean).alias("cgr"))

    def _checkpointed(self, out_dir):
        from kmertools_spark.operators import backfill_features_stream
        from kmertools_spark.plans import BackfillDriver

        # the feature function of jobs/backfill_job.py at its defaults
        def feature_fn(df):
            return backfill_features_stream(df, k=4, n_turns=3, gap_seconds=1800.0)

        shutil.rmtree(out_dir, ignore_errors=True)
        self.driver = BackfillDriver(out_dir, n_buckets=self.BUCKETS, feature_fn=feature_fn)
        self.driver.run(self.t)
        return sorted((e["bucket"], e["rows_out"], e["checksum"]) for e in self.driver.metrics())

    def ops(self, spark):
        from kmertools_spark.functions import exploded_minimisers

        ckpt = os.path.join(self.work, "backfill_out")
        return [
            ("backfill", self._backfill),
            ("asof", self._asof),
            ("counts_cov", self._counts_cov),
            ("minruns", lambda: exploded_minimisers(self.t, w=8, m=5)),
            ("cgr", self._cgr),
            ("backfill_checkpointed", lambda: self._checkpointed(ckpt)),
        ]

    def plans_output_mb(self) -> float:
        return _dir_mb(os.path.join(self.work, "backfill_out"))

    def check(self, spark, outs):
        from pyspark.sql import functions as F

        from kmertools_spark.operators import global_kmer_counts

        t_pdf = self.t.select("conv_id", "turn_idx", "ts", "text").toPandas()
        errs = self._check_common(spark, t_pdf, outs)
        want = valid_kmer_total(t_pdf["text"], 4)
        total = global_kmer_counts(self.t, k=4).agg(F.sum("cnt")).first()[0] or 0
        if total != want:
            errs.append(f"counts_cov: total count {total} != {want} valid 4-mers")
        lens = outs["cgr"].select("conv_id", "turn_idx", F.size("cgr").alias("n")).toPandas()
        m = t_pdf.merge(lens, on=["conv_id", "turn_idx"], how="left")
        kept = m["text"].fillna("").map(lambda s: sum(len(r) for r in _VALID.findall(s)))
        if len(lens) != self.rows or (m["n"] != kept).any():
            errs.append("cgr: trajectory lengths differ from kept-base counts")
        rows_out = sum(r for _, r, _ in outs["backfill_checkpointed"])
        if rows_out != self.rows:
            errs.append(f"backfill_checkpointed: manifest rows_out {rows_out} != {self.rows}")
        backfill = outs["backfill"]
        written = self.driver.result(spark).select(*backfill.columns)
        if force_cols(written) != force_cols(backfill):
            errs.append("backfill_checkpointed: written table differs from backfill output")
        return errs


class TranscriptsWhale(_Transcripts):
    """Synthetic transcripts where conversation 0 holds about half of
    all turns (synth_transcripts_pdf with skew_factor == n_convs)."""

    name = "transcripts_whale"
    op_names = ("backfill", "asof", "minimiser_index")
    kernels = KERNELS_TRANSCRIPT
    CONVS, MEAN_TURNS = 1500, 20

    def generate(self):
        from kmertools_spark.sources import synth_transcripts_pdf

        pdf = synth_transcripts_pdf(
            n_convs=self.CONVS, mean_turns=self.MEAN_TURNS,
            skew_factor=self.CONVS, seed=self.seed,
        )
        rng = np.random.RandomState(self.seed + 1)
        pick = pdf.iloc[:: 25]
        shift = np.where(
            rng.random(len(pick)) < 0.3, 0, rng.randint(1, 900, size=len(pick))
        )
        probes = pd.DataFrame(
            {
                "conv_id": pick["conv_id"].to_numpy(),
                "probe_ts": pick["ts"].to_numpy() + pd.to_timedelta(shift, unit="s"),
            }
        )
        unknown = pd.DataFrame(
            {"conv_id": [f"conv_unknown_{i}" for i in range(50)],
             "probe_ts": probes["probe_ts"].iloc[:50].to_numpy()}
        )
        pdf.to_parquet(os.path.join(self.work, "turns.parquet"), **_PARQUET)
        pd.concat([probes, unknown]).drop_duplicates().to_parquet(
            os.path.join(self.work, "probes.parquet"), **_PARQUET
        )
        self.rows = len(pdf)

    def load(self, spark):
        self.t = self._cache(spark.read.parquet(os.path.join(self.work, "turns.parquet")))
        self.p = self._cache(spark.read.parquet(os.path.join(self.work, "probes.parquet")))

    def ops(self, spark):
        from kmertools_spark.operators import minimiser_index

        return [
            ("backfill", self._backfill),
            ("asof", self._asof),
            ("minimiser_index", lambda: minimiser_index(self.t, w=8, m=5)),
        ]

    def check(self, spark, outs):
        t_pdf = self.t.select("conv_id", "turn_idx", "ts", "text").toPandas()
        return self._check_common(spark, t_pdf, outs)


class ReadsCli(Workload):
    """FASTQ reads sampled from a seeded random genome at a fixed depth,
    both strands, no ambiguous bases; run through the kmertools CLI."""

    name = "reads_cli"
    op_names = ("comp_oligo", "cov", "ctr", "min")
    kernels = KERNELS_READS
    GENOME, DEPTH, READ_LEN, K = 60_000, 10, 150, 15

    def generate(self):
        rng = np.random.RandomState(self.seed)
        genome = "".join(np.array(list("ACGT"))[rng.randint(0, 4, size=self.GENOME)])
        n = self.GENOME * self.DEPTH // self.READ_LEN
        starts = rng.randint(0, self.GENOME - self.READ_LEN + 1, size=n)
        flip = rng.random(n) < 0.5
        qual = "I" * self.READ_LEN
        self.reads = []
        path = os.path.join(self.work, "reads.fq")
        with open(path, "w") as f:
            for i in range(n):
                s = genome[starts[i] : starts[i] + self.READ_LEN]
                if flip[i]:
                    s = s.translate(_COMP)[::-1]
                self.reads.append(s)
                f.write(f"@read_{i}\n{s}\n+\n{qual}\n")
        self.fq = path
        self.out = os.path.join(self.work, "cli_out")
        self.rows = n

    def load(self, spark):
        # the CLI reads its input file itself on every command
        pass

    def _argv(self):
        o = self.out
        return {
            "comp_oligo": ["comp", "oligo", "-i", self.fq, "-o", f"{o}/oligo.kmers", "-k", "4"],
            "cov": ["cov", "-i", self.fq, "-o", f"{o}/cov", "-k", str(self.K)],
            "ctr": ["ctr", "-i", self.fq, "-o", f"{o}/ctr", "-k", str(self.K)],
            "min": ["min", "-i", self.fq, "-o", f"{o}/reads.mins"],
        }

    def ops(self, spark):
        from kmertools_spark import cli

        os.makedirs(self.out, exist_ok=True)

        def run(argv):
            rc = cli.main(argv)
            if rc != 0:
                raise RuntimeError(f"kmertools_spark {' '.join(argv[:2])} exited {rc}")
            return _digest(argv[argv.index("-o") + 1])

        return [(name, (lambda a=argv: run(a))) for name, argv in self._argv().items()]

    def output_mb(self) -> float:
        return _dir_mb(self.out)

    def kernel_texts(self, spark):
        return self.reads[:4096]

    def check(self, spark, outs):
        errs = []
        n, per_read = self.rows, self.READ_LEN - self.K + 1
        o = self.out
        slots = _canonical_slots(4)
        with open(f"{o}/oligo.kmers") as f:
            lines = f.read().splitlines()
        if len(lines) != n:
            errs.append(f"comp_oligo: {len(lines)} lines for {n} reads")
        rng = np.random.RandomState(self.seed)
        for i in rng.choice(min(n, len(lines)), size=min(32, n), replace=False):
            vec = np.array([float(x) for x in lines[i].split(" ")])
            if not np.allclose(vec, composition_ref(self.reads[i], 4, slots), atol=5.1e-7):
                errs.append(f"comp_oligo: read {i} vector differs")
                break
        for sub in ("ctr", "cov"):
            with open(f"{o}/{sub}/kmers.counts") as f:
                total = sum(int(line.split("\t")[1]) for line in f)
            if total != n * per_read:
                errs.append(f"{sub}: total count {total} != {n} x {per_read}")
        with open(f"{o}/cov/kmers.vectors") as f:
            rows = [np.array([float(x) for x in line.split(" ")]) for line in f]
        if len(rows) != n or any(abs(r.sum() - 1.0) > 2e-5 for r in rows):
            errs.append("cov: vectors are not one L1-normalised histogram per read")
        with open(f"{o}/reads.mins") as f:
            ids = [line.split("\t", 1)[0].rstrip("\n") for line in f]
        if ids != [f"read_{i}" for i in range(n)]:
            errs.append("min: s2m lines are not one per read in input order")
        return errs


WORKLOADS = {w.name: w for w in (TranscriptsUniform, TranscriptsWhale, ReadsCli)}
