"""The three workloads. Each is one client in a closed loop: a unit of work
starts only after the previous one returned.

A workload generates its inputs from the seed before anything is timed
(``prepare``), then the runner calls ``unit`` repeatedly. Every call into
a ``dbqt_spark`` module goes through ``Calls.call`` together with the
action that materializes its result, so the call's wall time covers the
work it causes and its output is checked against the planted truth.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from datetime import datetime

import check
import gen
from dbqt_spark import catalog, schema_df
from dbqt_spark.operators import (
    colcompare,
    dedup,
    keyfinder,
    profile,
    rowcount,
    similarity,
    textstats,
)
from dbqt_spark.report.html import HTMLReport
from dbqt_spark.report.markdown import format_nullcheck_report
from dbqt_spark.streaming.checks import stream_events_from_parquet
from dbqt_spark.streaming.neardup import compact_store, streaming_minhash_dedup
from dbqt_spark.streaming.publish import read_published


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


class DqCatalog:
    """The dbqt CLI path over a warehouse of small tables and its drifted
    copy: dbstats, colcompare, nullcheck and keyfinder, then the reports."""

    name = "dq_catalog"
    item = "tables"

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.truth = gen.gen_dq_catalog(self.inputs, seed)
        self.n = 0

    def _fresh_catalog(self) -> tuple[str, str]:
        """Hard-link the inputs under a directory no session has loaded,
        as a one-shot CLI invocation sees them (``catalog.load_table``
        memoizes per path)."""
        self.n += 1
        sides = []
        for side in ("src", "tgt"):
            d = os.path.join(self.work, f"catalog{self.n}", side)
            os.makedirs(d)
            for f in os.listdir(os.path.join(self.inputs, side)):
                os.link(os.path.join(self.inputs, side, f), os.path.join(d, f))
            sides.append(d)
        return sides[0], sides[1]

    def unit(self, spark, calls) -> int:
        truth = self.truth
        src_dir, tgt_dir = self._fresh_catalog()

        def load():
            names = catalog.discover_tables(src_dir)
            return (
                names,
                catalog.load_tables(spark, src_dir, names),
                catalog.load_tables(spark, tgt_dir, names),
            )

        names, src, tgt = calls.call("catalog", load)
        src_schema, tgt_schema = calls.call(
            "schema_df",
            lambda: (
                schema_df.build_schema_df(spark, src),
                schema_df.build_schema_df(spark, tgt),
            ),
        )
        counts = calls.call(
            "operators.rowcount",
            lambda: _rows(rowcount.count_compare(
                rowcount.table_row_counts(spark, src_dir, names),
                rowcount.table_row_counts(spark, tgt_dir, names),
            )),
            lambda rows: check.row_counts(truth, rows),
        )
        compared = calls.call(
            "operators.colcompare",
            lambda: _rows(colcompare.compare_columns(src_schema, tgt_schema)),
            lambda rows: check.column_compare(truth, rows),
        )
        profiled = calls.call(
            "operators.profile",
            lambda: _rows(profile.profile_tables(src)),
            lambda rows: check.profile(truth, rows),
        )
        for table in truth["keys"]:
            calls.call(
                "operators.keyfinder",
                lambda: keyfinder.find_composite_keys(src[table]),
                lambda keys: check.composite_keys(truth, table, keys),
            )

        def render():
            report = HTMLReport("perfbench dq_catalog")
            for tab, rows in (
                ("Row counts", counts),
                ("Column compare", compared),
                ("Null check", profiled),
            ):
                cols = list(rows[0]) if rows else []
                report.add_tab(tab, [(c, False) for c in cols], rows)
            nulls: dict[str, dict[str, int]] = {}  # table -> column -> distinct
            for r in profiled:
                nulls.setdefault(r["table_name"], {})[r["col_name"]] = (
                    r["distinct_count"]
                )
            html, md = report.render(), format_nullcheck_report(nulls)
            out = os.path.join(self.work, f"catalog{self.n}")
            with open(os.path.join(out, "report.html"), "w") as f:
                f.write(html)
            with open(os.path.join(out, "nullcheck.md"), "w") as f:
                f.write(md)
            return html, md

        calls.call("report", render, lambda out: check.reports(truth, *out))
        return len(names)


class LlmDedup:
    """A batch corpus-cleaning pass: exact and MinHash dedup, embedding
    near-dup pairs, token statistics and quality scores."""

    name = "llm_dedup"
    item = "docs"

    def prepare(self, work: str, seed: int) -> None:
        self.inputs = os.path.join(work, "inputs")
        self.truth = gen.gen_llm_dedup(self.inputs, seed)

    def unit(self, spark, calls) -> int:
        truth = self.truth
        docs = spark.read.parquet(os.path.join(self.inputs, "docs.parquet"))
        emb = spark.read.parquet(os.path.join(self.inputs, "embeddings.parquet"))
        calls.call(
            "operators.dedup.exact",
            lambda: dedup.dedup_exact(docs).select("doc_id")
            .toPandas()["doc_id"].tolist(),
            lambda ids: check.exact_dedup(truth, ids),
        )
        calls.call(
            "operators.dedup.minhash",
            lambda: [tuple(r) for r in dedup.minhash_near_duplicates(docs).collect()],
            lambda rows: check.near_duplicates(truth, rows),
        )
        calls.call(
            "operators.similarity",
            lambda: [
                tuple(r) for r in similarity.embedding_near_dup_pairs(
                    emb, gen.COSINE_THRESHOLD
                ).collect()
            ],
            lambda rows: check.embedding_pairs(truth, rows),
        )
        calls.call(
            "operators.textstats",
            lambda: list(textstats.token_stats(docs).select(
                "doc_id", "n_chars", "n_tokens"
            ).toPandas().itertuples(index=False, name=None)),
            lambda rows: check.token_stats(truth, rows),
        )
        calls.call(
            "operators.textstats",
            lambda: list(textstats.quality_scores(docs).select(
                "doc_id", "n_tokens", "quality_score"
            ).toPandas().itertuples(index=False, name=None)),
            lambda rows: check.quality_scores(truth, rows),
        )
        return truth["docs"]

    def candidate_yield(self, spark) -> float:
        """Verified near-dup pairs per LSH candidate pair, with the
        candidates from the public relational banding path."""
        docs = spark.read.parquet(os.path.join(self.inputs, "docs.parquet"))
        candidates = dedup.minhash_candidate_pairs(
            dedup.minhash_signatures(docs)
        ).count()
        verified = dedup.minhash_near_duplicates(docs).count()
        return verified / max(1, candidates)


class _Progress:
    """StreamingQueryListener on ``spark`` that records each micro-batch's
    ``triggerExecution`` time and trigger start."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.spark = spark
        self.batches: list[tuple[float, float]] = []  # (start epoch s, seconds)
        self.cv = threading.Condition()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = datetime.fromisoformat(
                    p.timestamp.replace("Z", "+00:00")
                ).timestamp()
                with outer.cv:
                    outer.batches.append(
                        (start, p.durationMs["triggerExecution"] / 1000)
                    )
                    outer.cv.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def wait_for(self, n: int) -> None:
        with self.cv:
            if not self.cv.wait_for(lambda: len(self.batches) >= n, timeout=60):
                raise TimeoutError(f"only {len(self.batches)} of {n} progress events")


class StreamIngest:
    """The streaming near-dup gate over a file-source stream, one parquet
    file per trigger, drained in availableNow segments with a store
    compaction after each."""

    name = "stream_ingest"
    item = "docs"

    def prepare(self, work: str, seed: int) -> None:
        self.inputs = os.path.join(work, "inputs")
        self.truth = gen.gen_stream_ingest(self.inputs, seed)
        self.src = os.path.join(work, "stream", "src")
        self.store = os.path.join(work, "stream", "store")
        self.out = os.path.join(work, "stream", "out")
        self.ckpt = os.path.join(work, "stream", "ckpt")
        os.makedirs(self.src)
        self.fed = 0  # batch files moved into the source so far
        self.progress = None

    def exhausted(self) -> bool:
        return self.fed >= gen.STREAM_BATCHES

    def _feed(self) -> None:
        """Copy the next batch file into the source, dated a minute back so
        the file source takes it at once."""
        name = f"b{self.fed:04d}.parquet"
        dst = os.path.join(self.src, name)
        shutil.copy(os.path.join(self.inputs, "batches", name), dst)
        past = time.time() - 60
        os.utime(dst, (past, past))
        self.fed += 1

    def _files(self) -> list[str]:
        """Every file under the gate's store, output and checkpoint."""
        return [
            os.path.join(d, f)
            for root in (self.store, self.out, self.ckpt)
            for d, _, files in os.walk(root)
            for f in files
        ]

    def store_bytes(self) -> int:
        return sum(os.path.getsize(f) for f in self._files())

    def kept(self) -> int:
        return sum(len(b) for b in self.truth["keep"][: self.fed])

    def unit(self, spark, calls) -> int:
        """One availableNow segment that drains one batch file as one
        micro-batch, then a store compaction: every unit holds exactly one
        compaction, however many units a window fits."""
        if self.progress is None or self.progress.spark is not spark:
            self.progress = _Progress(spark)
        self._feed()
        seen = len(self.progress.batches)
        schema = "doc_id long, text string"

        def segment():
            q = streaming_minhash_dedup(
                stream_events_from_parquet(spark, self.src, schema),
                self.store, self.out, self.ckpt,
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            self.progress.wait_for(seen + 1)

        def kept_ids():
            df = read_published(spark, self.out).select("doc_id").toPandas()
            return check.stream_kept(self.truth, self.fed, df["doc_id"].tolist())

        files_before = len(self._files())
        calls.call("streaming.neardup.segment", segment, lambda _: kept_ids())
        calls.batches(
            "streaming.neardup",
            self.progress.batches[seen:],
            files_written=len(self._files()) - files_before,
        )
        calls.call(
            "streaming.neardup.compact_store",
            lambda: compact_store(spark, self.store),
        )
        return gen.STREAM_BATCH_DOCS


WORKLOADS = {w.name: w for w in (DqCatalog, LlmDedup, StreamIngest)}
