"""The benchmark workloads. Each drives the engine through the public
functions of its modules with one closed-loop client: the next call
starts when the previous one returns.

A workload object goes through ``seed`` (inputs, run several times for a
median set-up time), ``warm_up`` (untimed, charged to set-up),
``prepare`` and ``run_pass`` (fresh state, then one timed pass),
``metrics`` (end-to-end numbers over the timed passes),
``detail`` (supporting numbers for the report) and ``check``
(correctness, outside the timed region).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import inputs


def tree_bytes(root: str) -> int:
    """Bytes under ``root``, each hard-linked inode counted once."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            st = os.lstat(os.path.join(dirpath, name))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (1..99), inclusive method."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Client:
    """Counts attempted and failed engine calls and times each call
    under a step name. A call that raises counts as failed and returns
    None; the run goes on."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.steps: dict[str, list[float]] = {}

    def call(self, step: str, fn, *args, **kwargs):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # the closed loop keeps going; the check reports it
            self.failed += 1
            self.errors.append(f"{step}: {type(exc).__name__}: {exc}"[:500])
            return None
        finally:
            self.steps.setdefault(step, []).append(time.perf_counter() - t0)


def _link_tree(src: str, dst: str) -> None:
    """Hard-link copy of an input tree: byte-identical inputs, no copy."""
    for dirpath, _dirs, files in os.walk(src):
        out = os.path.join(dst, os.path.relpath(dirpath, src))
        os.makedirs(out, exist_ok=True)
        for name in files:
            os.link(os.path.join(dirpath, name), os.path.join(out, name))


# ---------------------------------------------------------------------------


class DiscoverClassify:
    """The discovery lifecycle over a tracker that already holds ~2,000
    sources of other types. Day 1: an onboarding event for a multi-file
    CSV source with planted PII columns, then register, classify,
    publish and the tag report, with the tracker lookups a scheduler
    runs between phases. Day 2: ~10% new rows land as a new file;
    re-crawl, re-classify, re-publish."""

    name = "discover_classify"
    TRACKER_SOURCES = 2000
    CSV_ROWS, CSV_FILES = 12000, 6
    #: planted entities, then fixed distractors from across the registry
    ENTITIES = [
        "EMAIL", "USA_SSN", "IP_ADDRESS", "PHONE_NUMBER", "CREDIT_CARD",
        "ARGENTINA_TAX_IDENTIFICATION_NUMBER", "BRAZIL_NATIONAL_IDENTIFICATION_NUMBER",
        "CANADA_PERSONAL_HEALTH_NUMBER", "ESTONIA_DRIVING_LICENSE", "FRANCE_DRIVING_LICENSE",
        "HUNGARY_PASSPORT_NUMBER", "ITALY_PASSPORT_NUMBER", "NORWAY_BIRTH_NUMBER",
        "POLAND_IDENTIFICATION_NUMBER", "SWEDEN_DRIVING_LICENSE", "UK_BANK_SORT_CODE",
    ]

    def __init__(self, ctx):
        self.ctx = ctx
        self.pass_no = 0
        self.prev: tuple[str, str] | None = None
        self.mismatches: list[str] = []

    def seed(self, rep: int) -> None:
        rng = np.random.default_rng([self.ctx.seed, rep])
        self.inputs = os.path.join(self.ctx.work, f"dc-inputs-{rep}")
        day1, day2 = os.path.join(self.inputs, "day1"), os.path.join(self.inputs, "day2")
        self.rows = inputs.write_csv_files(rng, f"{day1}/csv_src", self.CSV_ROWS, self.CSV_FILES)
        inputs.write_csv_files(rng, f"{day2}/csv_src", self.CSV_ROWS // 10, 1, start=self.CSV_FILES)
        self.tracker = inputs.tracker_seed(rng, self.TRACKER_SOURCES)

    def _seed_tracker(self, engine) -> None:
        from automated_datastore_discovery_with_aws_glue_spark.catalog import engine as eng_mod

        rows = [
            {
                # tracker rows keyed the way onboard_source keys them
                "id": eng_mod._source_id(st, attrs),
                "data_source_type": st,
                "glue_job_created": classified,
                "data_catalog_entry": cataloged,
                "data_source_attrs": attrs,
                "data_catalog_table_name": f"{st}_{attrs['name']}" if cataloged else None,
                "data_catalog_db_name": "discovered" if cataloged else None,
                "tags": inputs.GATE_TAGS,
            }
            for st, attrs, cataloged, classified in self.tracker
        ]
        engine.onboard_batch(self.ctx.spark.createDataFrame(rows, eng_mod._TRACKER_SCHEMA))

    def _expected(self, kind: str, st: str) -> int:
        rows = [(c, g) for t, _a, c, g in self.tracker if t == st]
        if kind == "pending_catalog":
            return sum(1 for c, g in rows if not c and not g)
        if kind == "pending_classify":
            return sum(1 for c, g in rows if c and not g)
        if kind == "cataloged":
            return sum(1 for c, _g in rows if c)
        return len(rows)

    def _lookup(self, client: Client, kind: str, *args, expect: int | None = None) -> list | None:
        """One scheduler lookup (P1-P5 or latest findings), collected to
        the driver and released."""
        from automated_datastore_discovery_with_aws_glue_spark.operators.cache import release

        def run():
            df = getattr(self.engine, kind)(*args)
            try:
                return df.collect()
            finally:
                release(df)

        with self.ctx.span("catalog.lookup"):
            got = client.call("lookup", run)
        if got is not None and expect is not None and len(got) != expect:
            self.mismatches.append(f"pass {self.pass_no}: {kind}{args} returned {len(got)} rows, expected {expect}")
        return got

    def prepare(self) -> None:
        """Untimed, before each pass: drop the previous pass's tables and
        state, lay out the day-1 files and a fresh state root whose
        tracker holds the pre-existing sources."""
        from automated_datastore_discovery_with_aws_glue_spark.catalog.engine import DiscoveryEngine

        spark = self.ctx.spark
        if self.prev is not None:
            spark.sql(f"DROP DATABASE IF EXISTS {self.prev[1]} CASCADE")
            shutil.rmtree(self.prev[0], ignore_errors=True)
        k = self.pass_no
        root, db = os.path.join(self.ctx.work, f"dc-pass-{k}"), f"dc_pass_{k}"
        self.prev = (root, db)
        self.src = os.path.join(root, "src")
        _link_tree(os.path.join(self.inputs, "day1"), self.src)
        template = os.path.join(self.ctx.work, "dc-tracker")
        if not os.path.isdir(template):
            self._seed_tracker(DiscoveryEngine(spark, template, database="dc_seed"))
        # committed state-store files are never rewritten in place (new
        # versions go to new directories), so a hard-linked copy is an
        # independent snapshot of the seeded tracker
        _link_tree(template, f"{root}/state")
        self.engine = DiscoveryEngine(spark, f"{root}/state", database=db)

    def _day1(self, client: Client) -> float:
        from automated_datastore_discovery_with_aws_glue_spark.operators.cache import release

        eng, c = self.engine, client
        self.pass_no += 1
        self.source = source = {"path": f"{self.src}/csv_src", "name": "orders", "format": "csv"}
        t0 = time.perf_counter()
        c.call("onboard_source", eng.onboard_source, "s3", source, inputs.GATE_TAGS)
        self._lookup(c, "pending_catalog", "s3", expect=1)
        self.registered = c.call("register_pending", eng.register_pending, "s3") or []
        c.call("classify_pending", eng.classify_pending, "s3", self.ENTITIES)
        c.call("publish_findings", eng.publish_findings)
        report = c.call("tag_report", eng.tag_report, "s3")
        if report is not None:
            with self.ctx.span("perfbench.collect"):
                c.call("tag_report", report.collect)
            release(report)
        self._lookup(c, "latest_findings")
        return time.perf_counter() - t0

    def _day2(self, client: Client) -> float:
        eng, c = self.engine, client
        _link_tree(os.path.join(self.inputs, "day2"), self.src)
        t0 = time.perf_counter()
        c.call("recrawl", eng.recrawl, "s3")
        self._lookup(c, "pending_classify", "s3", expect=1)
        self.drifted = c.call("classify_pending", eng.classify_pending, "s3", self.ENTITIES)
        c.call("publish_findings", eng.publish_findings)
        day2_s = time.perf_counter() - t0
        if self.drifted != 1:
            self.mismatches.append(
                f"pass {self.pass_no}: day-2 classify_pending re-classified {self.drifted} sources, expected 1"
            )
        return day2_s

    def warm_up(self, client: Client) -> dict:
        """Seeds the tracker template and runs day 1 once, untimed. Day 2
        shares its engine calls (classify, publish) and most of its
        plans with day 1, so it is not run here (see README.md)."""
        self.prepare()
        return {"day1_s": self._day1(client)}

    def run_pass(self, client: Client) -> dict:
        day1_s = self._day1(client)
        day2_s = self._day2(client)
        return {
            "rows": self.rows,
            "seconds": day1_s + day2_s,
            "day1_s": day1_s,
            "delta_s": day2_s,
            "state_b": tree_bytes(f"{self.prev[0]}/state"),
        }

    def metrics(self, passes: list[dict]) -> dict:
        return {
            "rows_per_s": statistics.median(p["rows"] / p["seconds"] for p in passes),
            "delta_s": statistics.median(p["delta_s"] for p in passes),
        }

    def detail(self, passes: list[dict], client: Client) -> dict:
        onboard = [s * 1000 for s in client.steps.get("onboard_source", [])]
        lookups = [s * 1000 for s in client.steps.get("lookup", [])]
        return {
            "day1_rows": self.rows,
            "day1_s": [p["day1_s"] for p in passes],
            "day2_s": [p["delta_s"] for p in passes],
            "onboard_p50_ms": statistics.median(onboard) if onboard else None,
            "onboard_count": len(onboard),
            "lookup_p50_ms": statistics.median(lookups) if lookups else None,
            "lookup_p90_ms": percentile(lookups, 90) if lookups else None,
            "lookup_count": len(lookups),
            "steps_s": {k: sum(v) for k, v in client.steps.items()},
        }

    def check(self) -> list[str]:
        from automated_datastore_discovery_with_aws_glue_spark.operators.classify import classify_columns

        errors = list(self.mismatches[:5])
        eng, spark = self.engine, self.ctx.spark
        # a replayed onboarding event is a no-op: no new row, flags kept
        eng.onboard_source("s3", self.source, inputs.GATE_TAGS)
        n = eng.tracker().count()
        if n != self.TRACKER_SOURCES + 1:
            errors.append(f"tracker holds {n} rows; {self.TRACKER_SOURCES} seeded + 1 onboarded (and replayed) expected")
        for kind, st in (
            ("pending_catalog", "rds"), ("pending_classify", "ddb"), ("cataloged", "ddb"), ("by_source_type", "rds")
        ):
            got = getattr(eng, kind)(st).count()
            if got != self._expected(kind, st):
                errors.append(f"{kind}({st}) = {got}, expected {self._expected(kind, st)}")
        if eng.pending_catalog("s3").count() or eng.pending_classify("s3").count():
            errors.append("the replayed s3 source reads as pending again")
        if len(self.registered) != 1:
            errors.append(f"register_pending registered {self.registered}")
        latest: dict[str, dict[str, list[str]]] = {}
        for r in eng.latest_findings().collect():
            latest.setdefault(r["data_catalog_table"], {})[r["columnName"]] = list(r["entityTypes"])
        for fq in self.registered:
            table = fq.split(".", 1)[1]
            rescan = {
                r["columnName"]: list(r["entityTypes"])
                for r in classify_columns(spark.table(fq), self.ENTITIES).collect()
            }
            if latest.get(table) != rescan:
                errors.append(f"{table}: latest findings {latest.get(table)} != full rescan {rescan}")
            for col, entity in inputs.CSV_PLANTED.items():
                if entity not in rescan.get(col, []):
                    errors.append(f"{table}.{col} lacks planted {entity}")
        return errors


# ---------------------------------------------------------------------------


class CorpusDedup:
    """The LLM-corpus hot path. Set-up loads the first 90% of the corpus
    into an incremental dedup index once. A pass reads the corpus, runs
    the one-shot MinHash-LSH dedup over all of it (pairs -> canonical
    documents), then ingests the last 10% as a delta, in id order, into
    a copy of the bulk-loaded index and reads its kept ids."""

    name = "corpus_dedup"
    DOCS, NEW_EVERY = 2000, 4
    BULK_SHARE = 0.9

    def __init__(self, ctx):
        self.ctx = ctx
        self.pass_no = 0
        self.prev_root: str | None = None
        self.kept_vs_oneshot: list[tuple[set, set]] = []

    def seed(self, rep: int) -> None:
        rng = np.random.default_rng([self.ctx.seed, rep])
        self.inputs = os.path.join(self.ctx.work, f"cd-inputs-{rep}")
        docs = inputs.corpus(rng, self.DOCS, self.NEW_EVERY)
        inputs.write_jsonl(docs, self.inputs, 4)
        self.n_docs = len(docs)
        self.cut = int(self.n_docs * self.BULK_SHARE)

    def _index(self, root: str):
        from automated_datastore_discovery_with_aws_glue_spark.plans.incremental import CorpusDedupIndex

        return CorpusDedupIndex(self.ctx.spark, root, threshold=0.5)

    def prepare(self) -> None:
        """Untimed, before each pass: drop the previous pass's index and
        lay out a copy of the bulk-loaded one (loaded once, on first
        use)."""
        import pyspark.sql.functions as F

        template = os.path.join(self.ctx.work, "cd-bulk-index")
        if not os.path.isdir(template):
            from automated_datastore_discovery_with_aws_glue_spark.sources.readers import read_json_items

            docs = read_json_items(self.ctx.spark, self.inputs).select("doc_id", "text")
            self._index(template).ingest(docs.filter(F.col("doc_id") < self.cut))
        if self.prev_root is not None:
            shutil.rmtree(self.prev_root, ignore_errors=True)
        self.prev_root = os.path.join(self.ctx.work, f"cd-index-{self.pass_no}")
        # the index's state store never rewrites a committed file in
        # place, so a hard-linked copy is an independent snapshot
        _link_tree(template, self.prev_root)

    def warm_up(self, client: Client) -> dict:
        """The bulk load, then one untimed pass."""
        t0 = time.perf_counter()
        self.prepare()
        bulk_s = time.perf_counter() - t0
        return {"bulk_s": bulk_s, "seconds": self.run_pass(client)["seconds"]}

    def run_pass(self, client: Client) -> dict:
        import pyspark.sql.functions as F

        from automated_datastore_discovery_with_aws_glue_spark.operators.cache import release
        from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import (
            dedup_canonical,
            minhash_lsh_pairs,
        )
        from automated_datastore_discovery_with_aws_glue_spark.sources.readers import read_json_items

        self.pass_no += 1
        root, c = self.prev_root, client

        start = time.perf_counter()
        docs = c.call("read_json_items", read_json_items, self.ctx.spark, self.inputs).select("doc_id", "text")

        def one_shot():
            pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
            canon = dedup_canonical(docs, pairs, "doc_id")
            try:
                with self.ctx.span("perfbench.collect"):
                    return {r[0] for r in canon.select("doc_id").collect()}
            finally:
                release(canon)
                release(pairs)

        oneshot = c.call("one_shot", one_shot) or set()
        oneshot_s = time.perf_counter() - start

        index = c.call("open_index", self._index, root)
        t0 = time.perf_counter()
        if index is not None:
            c.call("ingest_delta", index.ingest, docs.filter(F.col("doc_id") >= self.cut))
        delta_s = time.perf_counter() - t0
        kept = None
        if index is not None:
            ids = c.call("kept_ids", index.kept_ids)
            with self.ctx.span("perfbench.collect"):
                kept = c.call("kept_ids", ids.collect) if ids is not None else None
        seconds = time.perf_counter() - start
        self.kept_vs_oneshot.append(({r[0] for r in kept or []}, oneshot))
        return {
            "rows": self.n_docs + (self.n_docs - self.cut),
            "seconds": seconds,
            "oneshot_s": oneshot_s,
            "delta_s": delta_s,
            "state_b": tree_bytes(root),
        }

    def metrics(self, passes: list[dict]) -> dict:
        return {
            "rows_per_s": statistics.median(p["rows"] / p["seconds"] for p in passes),
            "delta_s": statistics.median(p["delta_s"] for p in passes),
        }

    def detail(self, passes: list[dict], client: Client) -> dict:
        return {
            "docs": self.n_docs,
            "delta_docs": self.n_docs - self.cut,
            "oneshot_s": [p["oneshot_s"] for p in passes],
            "delta_s": [p["delta_s"] for p in passes],
            "steps_s": {k: sum(v) for k, v in client.steps.items()},
        }

    def check(self) -> list[str]:
        errors = []
        for i, (kept, oneshot) in enumerate(self.kept_vs_oneshot):
            if not oneshot or kept != oneshot:
                errors.append(
                    f"pass {i}: index keeps {len(kept)} ids, one-shot dedup keeps {len(oneshot)}; "
                    f"symmetric difference {len(kept ^ oneshot)}"
                )
        return errors


WORKLOADS = {w.name: w for w in (DiscoverClassify, CorpusDedup)}
