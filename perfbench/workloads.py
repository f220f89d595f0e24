"""The benchmark's workloads: seeded inputs, one timed repetition, and the
correctness checks that run after the timed section.

Why each workload exists (see NOTES.md for measurements):

* ``crawl_bulk`` -- a fresh crawl, where the parse kernels and the
  seen-filter inserts do the work; every URL-seen probe is definitely-new.
  A traced run then re-marks one company of the finished crawl and resumes
  it under a robots Crawl-delay: the mark and restore paths, the
  seen-filter rebuild and the exact anti-join (every re-discovered URL is
  maybe-seen).
* ``curate_docs`` -- the three slowest operator keys over a seeded sample
  of a documents table; the crawl never calls them.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import sys
import time
from pathlib import Path
from typing import Optional

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.phases import PhaseClock
from perfbench.stats import Checks

ROOT = Path(__file__).resolve().parent.parent

# crawl_bulk: companies crawled. The crawl's time is mostly per-wave and
# per-job constants (in one session, warm crawls of 2 and 4 companies took
# 11-13 s and 12-16 s), so a small crawl buys more timed repetitions.
BULK_COMPANIES = 2
# the traced recrawl: companies re-marked and the robots Crawl-delay, whose
# per-wave budget (wave window / delay = 300 pages) holds one company's
# ~140 URLs in one wave
RECRAWL_MARKED = 1
CRAWL_DELAY_MS = 200
# curate_docs: rows sampled from the committed 5,000-row documents table;
# see NOTES.md for how the keys' times grow with this size. At 120 rows
# per-row work is over a third of a repetition, and two repetitions fit
# in a run
CURATE_DOCS = 120
# the warm-up calls each key on fewer rows: the cold first call's extra
# cost (JVM and Python worker start-up, code generation, planning) does not
# grow with rows, and a repetition right after a small warm-up is no slower
# than later ones
CURATE_WARMUP_DOCS = 40
CURATE_KEYS = ("winnow_fingerprints", "cdc_dedup", "corpus_to_manifest")
DOCUMENTS = Path(__file__).resolve().parent / "data" / "documents.parquet"

N_FILINGS = 10  # per filing type; the query page lists at most 10
COMPANY_ID_SPACE = 10_000  # ticker_of() keeps four digits below this
MAX_WAVES = 64
# the cheap part of set-up (input generation) is repeated and its median kept
SETUP_REPEATS = 3


class Context:
    """What every workload needs: the session, a private work directory,
    the seed, the phase clock and the check ledger."""

    def __init__(self, spark, work: Path, seed: int, clock: PhaseClock,
                 checks: Checks, slots: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.clock = clock
        self.checks = checks
        self.slots = slots
        self.setup: dict[str, float] = {}


# ------------------------------------------------------------ inputs


def company_ids(seed: int, n: int) -> list[int]:
    return sorted(random.Random(seed).sample(range(COMPANY_ID_SPACE), n))


def write_pages(ids: list[int], out: Path, n_files: int) -> int:
    """Render every page of ``ids`` with ``synth.corpus.company_pages`` into
    ``n_files`` parquet files (whole companies per file); returns the page
    count."""
    from edgar_spark.model.schemas import PAGES_SCHEMA
    from edgar_spark.synth.corpus import company_pages

    schema = pa.schema(
        [pa.field(f.name, t, f.nullable) for f, t in zip(
            PAGES_SCHEMA.fields,
            (pa.string(), pa.timestamp("us", tz="UTC"), pa.binary(),
             pa.string(), pa.string()),
        )]
    )
    out.mkdir(parents=True)
    n_pages = 0
    n_files = max(1, min(n_files, len(ids)))
    for k in range(n_files):
        rows = [p for i in ids[k::n_files] for p in company_pages(i, N_FILINGS)]
        cols = list(zip(*rows))
        table = pa.table(
            {f.name: pa.array(c, f.type) for f, c in zip(schema, cols)}, schema
        )
        pq.write_table(table, out / f"part-{k:03d}.parquet")
        n_pages += len(rows)
    return n_pages


def build_pages(ctx: Context, ids: list[int]):
    """Write the page corpus of ``ids`` SETUP_REPEATS times, keeping the
    median build time as ``corpus_s``; the first copy is the corpus read."""
    ctx.setup["corpus_s"] = _timed_repeats(
        lambda k: write_pages(ids, ctx.work / f"pages-{k}", 2 * ctx.slots)
    )
    return ctx.spark.read.parquet(str(ctx.work / "pages-0"))


def seeds_df(spark, ids: list[int]):
    from edgar_spark.model.schemas import SEEDS_SCHEMA
    from edgar_spark.synth.corpus import cik_of, ticker_of

    pdf = pd.DataFrame(
        [(ticker_of(i), cik_of(i), k) for k, i in enumerate(ids)],
        columns=["ticker", "cik", "seed_seq"],
    )
    return spark.createDataFrame(pdf, SEEDS_SCHEMA)


def robots_df(spark, delay_ms: int):
    from edgar_spark.frontier.robots import ROBOTS_SCHEMA

    pdf = pd.DataFrame(
        [{"host": "www.sec.gov", "path_prefix": "/", "allowed": True,
          "crawl_delay_ms": delay_ms, "pattern_len": None,
          "pattern_regex": None}],
        columns=[f.name for f in ROBOTS_SCHEMA.fields],
    )
    return spark.createDataFrame(pdf, ROBOTS_SCHEMA)


def sample_documents(seed: int, n: int, sf_dir: Path) -> None:
    """Write ``n`` seed-chosen rows of the committed documents table to
    ``sf_dir/documents.parquet``, where Spark and DuckDB both read them."""
    table = pq.read_table(DOCUMENTS)
    rows = sorted(random.Random(seed).sample(range(table.num_rows), n))
    sf_dir.mkdir(parents=True)
    pq.write_table(table.take(rows), sf_dir / "documents.parquet")


def _timed_repeats(build) -> float:
    """Run ``build(k)`` SETUP_REPEATS times; the median wall time."""
    walls = []
    for k in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        build(k)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


# ------------------------------------------------------------ helpers


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, list):
        return tuple(v)
    return v


def _rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(
        (tuple(_norm(r[c]) for c in cols) for r in df.collect()),
        key=repr,
    )


def _checksum(df) -> tuple[int, int]:
    """(rows, order-independent sum of 32-bit row hashes) of the kernel's
    facts columns: the multiset of rows, compared without collecting it."""
    from pyspark.sql import functions as F

    from edgar_spark.model.schemas import FACTS_SCHEMA

    h = F.xxhash64(*[F.col(f.name) for f in FACTS_SCHEMA.fields])
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h.bitwiseAND(0xFFFFFFFF)), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    n_bytes = n_files = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            p = os.path.join(dirpath, name)
            if os.path.isfile(p) and not os.path.islink(p):
                n_bytes += os.path.getsize(p)
                n_files += 1
    return n_bytes, n_files


def live_bytes(catalog) -> int:
    """Bytes of the tables the catalog's current snapshot references."""
    return sum(
        dir_bytes(Path(catalog.table_path(t)))[0] for t in catalog.tables()
    )


def icelite_layers(ckpts: list[Path]) -> dict:
    """Write volume of the timed repetitions' checkpoint directories, per
    repetition, and its ratio to the live bytes of their final tables."""
    from edgar_spark.icelite import IceliteCatalog

    written = files = live = 0
    for ckpt in ckpts:
        b, f = dir_bytes(ckpt)
        written += b
        files += f
        live += live_bytes(IceliteCatalog(str(ckpt)))
    return {
        "icelite.bytes_written_mb": written / len(ckpts) / (1 << 20),
        "icelite.files_written": files / len(ckpts),
        "icelite.write_amp": written / live if live else 0.0,
    }


# ------------------------------------------------------------ crawl_bulk


class CrawlBulk:
    """Fresh crawls of seeded companies, then one fetch+parse pass over every
    report page the last crawl fetched. A traced run adds a recrawl of the
    last crawl (see ``traced``)."""

    name = "crawl_bulk"
    # nominal repetition (one crawl) on the reference machine
    rep_s = 10.0
    # a parse task keeps two processes busy, its JVM thread and its Python
    # worker, through most of a crawl: one slot per CPU ran about twice as
    # many busy processes as CPUs and tracked the shared host's load (see
    # NOTES.md)
    cpus_per_slot = 2

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.reps: list[dict] = []
        self.recrawl: Optional[dict] = None
        self.hot: dict = {}

    def setup(self) -> None:
        ctx = self.ctx
        self.ids = company_ids(ctx.seed, BULK_COMPANIES)
        self.pages = build_pages(ctx, self.ids)
        self.seeds = seeds_df(ctx.spark, self.ids)
        t0 = time.perf_counter()
        self._crawl(ctx.work / "warmup")
        ctx.setup["warmup_s"] = time.perf_counter() - t0

    def _crawl(self, ckpt: Path) -> dict:
        """One fresh crawl into ``ckpt``, to materialized filings."""
        from edgar_spark.frontier.crawler import CrawlConfig, Crawler

        spark, clock = self.ctx.spark, self.ctx.clock
        waves = clock.waves[clock.section]
        wave_s = clock.calls[clock.section]["run_wave"]
        w0, c0 = len(waves), len(wave_s)
        t0 = time.perf_counter()
        cfg = CrawlConfig(max_waves=MAX_WAVES, checkpoint_dir=str(ckpt))
        Crawler(spark, self.pages, self.seeds, config=cfg).run().filings.count()
        return {
            "ckpt": ckpt, "wall_s": time.perf_counter() - t0,
            "wave_s": wave_s[c0:],
            "fetched": sum(m["fetched"] for m in waves[w0:]),
            "report_pages": sum(m["fetched"] for m in waves[w0:] if m["wave"] == 2),
        }

    def _extract(self, ckpt: Path, partitions: int = 0):
        """The hot path: the crawl's fetched report rows joined to the page
        corpus (fetch), the crawl's own prefilter, the report kernel."""
        from pyspark.sql import functions as F

        from edgar_spark.icelite import IceliteCatalog
        from edgar_spark.operators.udfs import parse_report_pages

        spark = self.ctx.spark
        frontier = IceliteCatalog(str(ckpt)).read(spark, "frontier")
        due = frontier.filter(
            (F.col("kind") == "report") & (F.col("state") == "fetched")
        ).select("url", "cik", "ticker", "filing_type", "filing_date",
                 "accession", "doc_type")
        fetched = due.join(self.pages.select("url", "text"), "url")
        return parse_report_pages(
            fetched.filter(F.col("text").contains("defref"))
            .repartition(partitions or 2 * self.ctx.slots)
        )

    def rep(self) -> dict:
        r = self._crawl(self.ctx.work / f"crawl-{len(self.reps)}")
        self.reps.append(r)
        return r

    def finish(self) -> None:
        """After the timed section, in its own clock section: one hot-path
        pass over the last crawl's report pages."""
        clock = self.ctx.clock
        clock.begin("hotpath")
        clock.switch("extract")
        t0 = time.perf_counter()
        checksum = _checksum(self._extract(self.reps[-1]["ckpt"]))
        self.hot = {"checksum": checksum, "step_s": time.perf_counter() - t0}
        clock.switch("bench")

    def steps(self) -> list[float]:
        return [self.hot["step_s"]]

    def report(self) -> dict:
        crawl = [r["fetched"] / r["wall_s"] for r in self.reps]
        extract = [self.reps[-1]["report_pages"] / self.hot["step_s"]]
        return {
            "crawl_pages_per_s": ("pages/s", crawl),
            "extract_pages_per_s": ("pages/s", extract),
            "wave_p50_s": ("s", [w for r in self.reps for w in r["wave_s"]]),
        }

    def traced(self) -> dict:
        """Passes that only a traced run makes, after the timed section, each
        in its own clock section: the hot path's scaling efficiency, then a
        recrawl of the last timed crawl, once to warm up the mark and
        resume paths and once measured (section ``recrawl``)."""
        clock = self.ctx.clock
        clock.begin("scaling")
        scaling_eff = self._scaling()
        base = self.reps[-1]["ckpt"]
        self._recrawl_base(base)
        clock.begin("recrawl_warmup")
        self._recrawl(base, self.ctx.work / "recrawl-warmup")
        clock.begin("recrawl")
        self.recrawl = self._recrawl(base, self.ctx.work / "recrawl")
        return {"parse.scaling_eff": scaling_eff}

    def _scaling(self) -> float:
        """Hot-path throughput at one partition per task slot over 1
        partition, divided by the slots."""
        walls = {}
        for parts in (1, self.ctx.slots):
            df = self._extract(self.reps[-1]["ckpt"], parts)
            t0 = time.perf_counter()
            df.count()
            walls[parts] = time.perf_counter() - t0
        return walls[1] / walls[self.ctx.slots] / self.ctx.slots

    def _recrawl_base(self, base: Path) -> None:
        """What the recrawl checks compare against: the base checkpoint's
        filings and frontier, and every URL of RECRAWL_MARKED seed-chosen
        companies."""
        from edgar_spark.frontier.crawler import CrawlConfig
        from edgar_spark.icelite import IceliteCatalog
        from edgar_spark.synth.corpus import cik_of

        spark = self.ctx.spark
        cat = IceliteCatalog(str(base))
        self.base_filings = _rows(cat.read(spark, "filings"))
        self.base_last_wave = cat.snapshot_meta()["wave"]
        self.base_frontier = {
            r["url"]: (r["cik"], r["state"], r["wave"])
            for r in cat.read(spark, "frontier")
            .select("url", "cik", "state", "wave").collect()
        }
        rng = random.Random(f"{self.ctx.seed}/marked")
        marked = {cik_of(i) for i in rng.sample(self.ids, RECRAWL_MARKED)}
        self.marked = sorted(
            u for u, (cik, _, _) in self.base_frontier.items() if cik in marked
        )
        self.robots = robots_df(spark, CRAWL_DELAY_MS)
        self.budget = CrawlConfig().wave_window_ms // CRAWL_DELAY_MS

    def _recrawl(self, base: Path, ckpt: Path) -> dict:
        """Clone ``base``, mark, resume; the wall time from
        ``mark_for_recrawl`` to materialized filings. The clone copies the
        manifest only: snapshot files are immutable and shared, as in
        Iceberg, so everything under ``ckpt`` is written by this call."""
        from edgar_spark.frontier.crawler import CrawlConfig, Crawler

        spark = self.ctx.spark
        ckpt.mkdir()
        shutil.copy2(base / "_manifest.json", ckpt / "_manifest.json")
        t0 = time.perf_counter()
        Crawler(
            spark, self.pages, self.seeds,
            config=CrawlConfig(checkpoint_dir=str(ckpt)),
        ).mark_for_recrawl(self.marked)
        Crawler.resume(
            spark, str(ckpt), self.pages, self.seeds, robots=self.robots,
            config=CrawlConfig(max_waves=MAX_WAVES),
        ).filings.count()
        return {"ckpt": ckpt, "wall_s": time.perf_counter() - t0}

    def check(self) -> None:
        from pyspark.sql import functions as F

        from edgar_spark.icelite import IceliteCatalog
        from edgar_spark.parse import meta
        from edgar_spark.synth import corpus

        spark, checks = self.ctx.spark, self.ctx.checks
        for n, r in enumerate(self.reps):
            cat = IceliteCatalog(str(r["ckpt"]))
            filings = {
                (row["ticker"], row["accession"]): row.asDict()
                for row in cat.read(spark, "filings").collect()
            }
            checks.check(
                f"rep{n}.filings_count",
                len(filings) == len(self.ids) * len(corpus.FILING_TYPES) * N_FILINGS,
                f"{len(filings)} filings",
            )
            for i in self.ids:
                for ftype in corpus.FILING_TYPES:
                    for date in corpus.filing_dates(ftype, N_FILINGS):
                        an = corpus.accession_of(i, ftype, date)
                        key = (corpus.ticker_of(i), an)
                        checks.check(
                            f"rep{n}.filing {key}",
                            _filing_matches(filings.get(key),
                                            corpus.expected_filing(i, an), meta),
                        )
            frontier = cat.read(spark, "frontier")
            stats = frontier.agg(
                F.count("*").alias("rows"),
                F.countDistinct("url").alias("urls"),
                F.sum(F.when(F.col("state") == "pending", 1).otherwise(0)).alias("pending"),
            ).collect()[0]
            self.frontier_rows = stats["rows"]
            checks.check(f"rep{n}.frontier_unique", stats["rows"] == stats["urls"],
                         f"{stats['rows']} rows, {stats['urls']} urls")
            checks.check(f"rep{n}.no_pending", stats["pending"] == 0,
                         f"{stats['pending']} pending")
            kind_waves = {
                (row["kind"], row["wave"])
                for row in frontier.select("kind", "wave").distinct().collect()
            }
            checks.check(
                f"rep{n}.kind_waves",
                kind_waves == {("query", 0), ("index", 1), ("report", 2)},
                str(sorted(kind_waves, key=repr)),
            )
            facts = _checksum(cat.read(spark, "facts"))
            hot = self.hot["checksum"]
            checks.check(f"rep{n}.hot_path_facts", hot == facts,
                         f"hot path {hot} vs crawl facts {facts}")
        if self.recrawl is not None:
            self._check_recrawl()

    def _check_recrawl(self) -> None:
        """The recrawl re-fetched every marked URL, within the Crawl-delay
        budget, and left the filings, the frontier's URL set and every
        unmarked row as the base checkpoint had them."""
        from edgar_spark.icelite import IceliteCatalog

        spark, checks = self.ctx.spark, self.ctx.checks
        cat = IceliteCatalog(str(self.recrawl["ckpt"]))
        checks.check("recrawl.filings_unchanged",
                     _rows(cat.read(spark, "filings")) == self.base_filings)
        rows = cat.read(spark, "frontier").select("url", "state", "wave").collect()
        urls = [row["url"] for row in rows]
        checks.check("recrawl.frontier_unique", len(urls) == len(set(urls)),
                     f"{len(urls)} rows, {len(set(urls))} urls")
        checks.check("recrawl.frontier_urls_unchanged",
                     set(urls) == set(self.base_frontier))
        marked = set(self.marked)
        not_refetched = changed = 0
        for row in rows:
            base = self.base_frontier.get(row["url"])
            if base is None:
                continue
            if row["url"] in marked:
                not_refetched += not (
                    row["wave"] is not None
                    and row["wave"] > self.base_last_wave
                    and row["state"] == base[1]
                )
            else:
                changed += (row["state"], row["wave"]) != base[1:]
        checks.check("recrawl.marked_refetched", not_refetched == 0,
                     f"{not_refetched} of {len(marked)} marked urls not re-fetched")
        checks.check("recrawl.unmarked_untouched", changed == 0,
                     f"{changed} unmarked rows changed")
        over = [m["wave"] for m in self.ctx.clock.waves["recrawl"]
                if m["fetched"] + m["missing"] > self.budget]
        checks.check("recrawl.crawl_delay_budget", not over,
                     f"waves {over} exceed {self.budget} pages")

    def layers(self) -> dict:
        out = {
            "frontier.rows": self.frontier_rows,
            **icelite_layers([r["ckpt"] for r in self.reps]),
        }
        if self.recrawl is not None:
            out["recrawl.wall_s"] = self.recrawl["wall_s"]
        return out


def _filing_matches(got, exp: dict, meta) -> bool:
    if got is None:
        return False
    for col, v in exp.items():
        g = _norm(got[col])
        if v is None:
            if g is not None:
                return False
        elif g is None or not math.isclose(g, v, rel_tol=1e-12):
            return False
    collected = [f.go_name for f in meta.COLLECTED_ORDER if exp[f.col] is not None]
    return list(got["collected"] or []) == collected


# ------------------------------------------------------------ curate_docs


class CurateDocs:
    """The three slowest operator keys over a seeded sample of the
    committed documents table."""

    name = "curate_docs"
    # nominal repetition (the three key calls) on the reference machine
    rep_s = 8.0
    # mostly driver-side planning with short tasks: one slot per CPU
    cpus_per_slot = 1

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.reps: list[dict] = []

    def setup(self) -> None:
        import __spark_entry__ as entry

        ctx = self.ctx
        ctx.setup["corpus_s"] = _timed_repeats(
            lambda k: sample_documents(ctx.seed, CURATE_DOCS, ctx.work / f"sf-{k}")
        )
        self.sf = str(ctx.work / "sf-0")
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        t0 = time.perf_counter()
        warm = ctx.work / "sf-warmup"
        sample_documents(ctx.seed, CURATE_WARMUP_DOCS, warm)
        for key in CURATE_KEYS:
            self.queries[key](ctx.spark, str(warm)).collect()
        ctx.setup["warmup_s"] = time.perf_counter() - t0

    def rep(self) -> dict:
        clock = self.ctx.clock
        steps, outputs = [], {}
        for key in CURATE_KEYS:
            clock.switch(f"op.{key}")
            t0 = time.perf_counter()
            df = self.queries[key](self.ctx.spark, self.sf)
            rows = [tuple(row) for row in df.collect()]
            dt = time.perf_counter() - t0
            clock.record(f"op.{key}", dt)
            steps.append(dt)
            outputs[key] = (df.columns, rows)
        clock.switch("bench")
        r = {"wall_s": sum(steps), "steps": steps, "outputs": outputs}
        self.reps.append(r)
        return r

    def finish(self) -> None:
        pass

    def steps(self) -> list[float]:
        return [s for r in self.reps for s in r["steps"]]

    def report(self) -> dict:
        return {"curate_wall_s": ("s", [r["wall_s"] for r in self.reps])}

    def check(self) -> None:
        """Each key's rows hash equal to its DuckDB oracle under
        ``tools/check_oracle.py``'s canonical hashing, strict and coerced."""
        import duckdb

        sys.path.insert(0, str(ROOT / "tools"))
        import check_oracle

        checks = self.ctx.checks
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{self.sf}/documents.parquet')"
            )
            for key in CURATE_KEYS:
                cur = con.execute(self.oracles[key])
                d_cols = [d[0] for d in cur.description]
                d_rows = cur.fetchall()
                want = [check_oracle.frame_hash(d_cols, d_rows, c) for c in (False, True)]
                for n, r in enumerate(self.reps):
                    s_cols, s_rows = r["outputs"][key]
                    checks.check(f"rep{n}.{key}.rows", len(s_rows) == len(d_rows),
                                 f"{len(s_rows)} vs {len(d_rows)}")
                    checks.check(f"rep{n}.{key}.columns", sorted(s_cols) == sorted(d_cols))
                    got = [check_oracle.frame_hash(s_cols, s_rows, c) for c in (False, True)]
                    checks.check(f"rep{n}.{key}.hash", got == want, f"{got} vs {want}")
        finally:
            con.close()

    def traced(self) -> dict:
        return {}

    def layers(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (CrawlBulk, CurateDocs)}
