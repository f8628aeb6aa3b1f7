"""Workload ``daily_report``: the reference's production day.

One operation is a pass over ``REPORT_DATES`` consecutive report dates.
Each date runs ``dual_report_export_job`` → ``filtered_csv_export_job``
(5 of 20 apps) → ``network_csv_reload_job`` → ``ctr_alert_job``, all fed
by the production ``AdMobHttpChunkSource`` over the seeded fake API, and
is checked before the next date starts. The first two operations warm
up, checked but untimed: the JIT compiler was still at work in the
second, which took up to 1.5 times the CPU seconds of later ones, and
the checks run the alert's query again, which warms it further.
Set-up loads ``HISTORY_DAYS`` days of network history into the report
table. Before each pass the report dates' partitions are removed, so
every pass starts from the same table.
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

import fake_admob
import spans

HISTORY_DAYS = 90
REPORT_DATES = 1
FILTER_APPS = 5
HISTORY_START = datetime.date(2025, 1, 1)

# The report table as the program's reload writes it, date as partition.
_TABLE_SCHEMA = pa.schema(
    [("date", pa.date32())]
    + [(c, pa.string()) for c in fake_admob.NETWORK_COLUMNS[:3]]
    + [(c, pa.float64() if c in ("impression_ctr", "match_rate", "impression_rpm",
                                  "show_rate") else pa.int64())
       for c in fake_admob.NETWORK_COLUMNS[3:]]
)


def _files(root: str) -> dict[str, tuple[int, int]]:
    """Data files under ``root``: path → (size, mtime_ns)."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _lines(paths) -> int:
    n = 0
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            n += sum(1 for _ in fh)
    return n


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows, key=repr):
        h.update(repr(r).encode())
    return h.hexdigest()


class TracedSource:
    """The production source, with a span around each ``fetch``."""

    def __init__(self, inner, tracer):
        self.inner, self.tracer = inner, tracer

    def fetch(self, spark, kind, spec):
        with self.tracer.span("sources.fetch", jobs=False):
            return self.inner.fetch(spark, kind, spec)


class DailyReport:
    setup_reps = 2
    warmup_ops = 2
    min_ops = 2
    LAYERS = (
        ("daily.day_s", "s"), ("daily.alert_s", "s"),
        ("sources.fetch_s", "s"), ("sources.landed_bytes", "bytes"),
        ("pipelines.export_s", "s"), ("pipelines.csv_export_s", "s"),
        ("pipelines.reload_s", "s"), ("sinks.files_committed", "count"),
        ("sinks.partitions_touched", "count"), ("sinks.bytes_written", "bytes"),
        ("alerts.jobs", "count"), ("alerts.input_rows", "count"),
        ("alerts.input_files", "count"),
    )

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.tr = run.tracer
        first = HISTORY_START + datetime.timedelta(days=HISTORY_DAYS)
        self.dates = [first + datetime.timedelta(days=j) for j in range(REPORT_DATES)]
        self.landed_bytes: list[int] = []
        self.alert_rows: list[int] = []
        self.alert_files: list[int] = []

    # -- set-up --------------------------------------------------------

    def setup(self, rep: int) -> None:
        """Build the fake API and its responses, and write the
        history straight into the report table's layout."""
        from admob_data_pipeline_spark.sources.http_source import (
            AdMobHttpChunkSource,
            OAuthRefreshTokenAuth,
        )

        base = os.path.join(self.run.out, f"daily{rep}")
        shutil.rmtree(base, ignore_errors=True)
        self.staging = os.path.join(base, "staging")
        self.tables = os.path.join(base, "tables")
        self.table = os.path.join(self.tables, "network_report")
        self.landing = os.path.join(base, "landing")
        os.makedirs(self.landing)
        rng = random.Random(self.run.seed)
        self.api = api = fake_admob.FakeAdMobApi(self.run.seed, tuple(self.dates))
        self.apps = tuple(sorted(rng.sample(api.app_labels, FILTER_APPS)))
        for d in self.dates:
            api.prepare("network", d, d)
            api.prepare("mediation", d, d)
            api.prepare("mediation", d, d, self.apps)
        hist = api.network_rows(
            HISTORY_START, HISTORY_START + datetime.timedelta(days=HISTORY_DAYS - 1))
        cols = ("date",) + fake_admob.NETWORK_COLUMNS
        pq.write_to_dataset(
            pa.table({c: [r[k] for r in hist] for k, c in enumerate(cols)},
                     schema=_TABLE_SCHEMA),
            self.table, partition_cols=["date"],
        )
        self.source = TracedSource(
            AdMobHttpChunkSource(
                OAuthRefreshTokenAuth("bench-client", "bench-secret", "bench-refresh"),
                f"accounts/pub-{self.run.seed}",
                transport=api,
                landing_dir=self.landing,
            ),
            self.tr,
        )

    # -- one pass over the report dates -------------------------------

    def before_op(self, i: int) -> None:
        for d in self.dates:
            shutil.rmtree(os.path.join(self.table, f"date={d}"), ignore_errors=True)
        shutil.rmtree(self.staging, ignore_errors=True)
        self._clear_landing()

    def _clear_landing(self) -> None:
        for f in glob.glob(os.path.join(self.landing, "*")):
            os.remove(f)

    def _cfg(self, d, apps=()):
        from admob_data_pipeline_spark.pipelines import JobConfig

        return JobConfig(
            publisher_id=f"accounts/pub-{self.run.seed}",
            staging_dir=self.staging,
            table_dir=self.tables,
            report_date=d,
            app_filter=apps,
        ).validate()

    def _sink_files(self) -> dict[str, tuple[int, int]]:
        return {**_files(self.staging), **_files(self.tables)}

    def _job(self, name: str, fn):
        """Run one pipeline job in a span; when tracing, diff the sink
        directories around it."""
        before = self._sink_files() if self.run.trace else None
        with self.tr.span(name) as sp:
            result = fn()
        if before is not None:
            after = self._sink_files()
            new = [p for p, v in after.items() if before.get(p) != v]
            sp["counts"].update(
                files_committed=len(new),
                bytes_written=sum(after[p][0] for p in new),
                partitions_touched=len({os.path.dirname(p) for p in new if "/date=" in p}),
            )
        return result

    def op(self, i: int) -> list[dict]:
        """Run the report dates in order; return their spans, which
        leave out the checks after each date."""
        self.problems: list[str] = []
        timed = []
        for d in self.dates:
            with self.tr.span("day", cpu=True) as sp:
                self._day(d)
            timed.append(sp)
            with self.tr.span("check"):
                self.problems += self._check_day()
                self._clear_landing()
        return timed

    def _day(self, d) -> None:
        from admob_data_pipeline_spark import pipelines

        self.day = d
        cfg = self._cfg(d)
        self._job("pipelines.export",
                  lambda: pipelines.dual_report_export_job(self.spark, cfg, self.source))
        self._job("pipelines.csv_export",
                  lambda: pipelines.filtered_csv_export_job(
                      self.spark, self._cfg(d, self.apps), self.source))
        self._job("pipelines.reload",
                  lambda: pipelines.network_csv_reload_job(self.spark, cfg, self.source))
        self.health: dict = {}
        if self.run.trace and not self.tr.warmup:
            self.alert_files.append(len(glob.glob(os.path.join(self.table, "*", "*.parquet"))))
        self.scored = self._job(
            "alerts.ctr_alert",
            lambda: pipelines.ctr_alert_job(self.spark, cfg, self.source,
                                            metrics_out=self.health))

    # -- output checks (untimed) ---------------------------------------

    def check(self, i: int) -> list[str]:
        return self.problems

    def _check_day(self) -> list[str]:
        import duckdb

        d, api, problems = self.day, self.api, []
        if not self.tr.warmup:
            self.alert_rows.append(int(self.health.get("fact_rows") or 0))
            self.landed_bytes.append(
                sum(os.path.getsize(f) for f in glob.glob(os.path.join(self.landing, "*"))))
        con = duckdb.connect()
        try:
            want = api.expected_rows("network", d, d)
            cols = ", ".join(fake_admob.NETWORK_COLUMNS)
            got = con.sql(
                f"SELECT {cols} FROM read_parquet('{self.table}/date={d}/*.parquet')"
            ).fetchall()
            want_flat = [r[1:] for r in want]
            if len(got) != len(want_flat) or _digest(got) != _digest(want_flat):
                problems.append(f"{d}: network partition differs from the API rows")
            n_med = len(api.expected_rows("mediation", d, d))
            jsonl = glob.glob(f"{self.staging}/admob_{d:%Y%m%d}.jsonl/*.json")
            n_jsonl = _lines(jsonl)
            if n_jsonl != len(want) + n_med:
                problems.append(f"{d}: JSONL has {n_jsonl} rows, want {len(want) + n_med}")
            n_csv_want = len(api.expected_rows("mediation", d, d, self.apps))
            csv = glob.glob(f"{self.staging}/mediation_{d:%Y%m%d}_csv/*.csv")
            n_csv = _lines(csv) - len(csv)  # one header line per file
            if n_csv != n_csv_want:
                problems.append(f"{d}: CSV has {n_csv} rows, want {n_csv_want}")
            problems += self._check_alert(con)
        finally:
            con.close()
        return problems

    def _check_alert(self, con) -> list[str]:
        """The scored rows against a DuckDB recomputation of the
        reference's anomaly query over the same table."""
        ref = con.sql(f"""
            WITH fact AS (
                SELECT date, app_name, ad_unit_name,
                       CAST(clicks AS BIGINT) AS clicks,
                       CAST(impressions AS BIGINT) AS impressions
                FROM read_parquet('{self.table}/*/*.parquet', hive_partitioning = true)
            ),
            rd AS (SELECT max(date) AS report_date FROM fact),
            last7 AS (
                SELECT app_name, ad_unit_name,
                       sum(clicks) / NULLIF(sum(impressions), 0) AS avg_ctr_7d
                FROM fact, rd
                WHERE date BETWEEN report_date - 7 AND report_date - 1
                GROUP BY app_name, ad_unit_name
            ),
            today AS (
                SELECT app_name, ad_unit_name,
                       sum(clicks) / NULLIF(sum(impressions), 0) AS today_ctr
                FROM fact, rd WHERE date = report_date
                GROUP BY app_name, ad_unit_name
            )
            SELECT t.app_name, t.ad_unit_name, t.today_ctr, l.avg_ctr_7d,
                   (t.today_ctr - l.avg_ctr_7d) / NULLIF(l.avg_ctr_7d, 0) * 100 AS pct
            FROM today t JOIN last7 l ON t.ad_unit_name = l.ad_unit_name
        """).fetchall()
        n_fact = con.sql(
            f"SELECT count(*) FROM read_parquet('{self.table}/*/*.parquet')"
        ).fetchone()[0]
        got = {
            (r["app_name"], r["ad_unit_name"]): r
            for r in self.scored.collect()
        }
        problems = []
        if len(got) != len(ref):
            problems.append(f"{self.day}: {len(got)} scored rows, DuckDB has {len(ref)}")
        n_alert = 0
        for app, unit, today, avg, pct in ref:
            r = got.get((app, unit))
            alert = abs(round(pct, 4)) > 25.0
            n_alert += alert
            if r is None or abs(r["today_ctr"] - today) > 1e-6 or abs(
                r["avg_ctr_7d"] - avg
            ) > 1e-6 or abs(r["pct_change"] - pct) > 1e-3 or (
                abs(abs(pct) - 25.0) > 1e-3 and bool(r["is_alert"]) != alert
            ):
                problems.append(f"{self.day}: alert row {app}/{unit} differs")
                break
        if self.health.get("fact_rows") != n_fact:
            problems.append(f"{self.day}: alert scanned {self.health.get('fact_rows')} rows, table has {n_fact}")
        if not 0 < n_alert < len(ref):
            problems.append(f"{self.day}: {n_alert} of {len(ref)} alerts fired; the fake shifts a few units")
        return problems

    # -- reporting -----------------------------------------------------

    def finish(self) -> list[str]:
        return []

    def e2e_rows(self):
        from statistics import median

        days = self.tr.durations("day")
        alerts = self.tr.durations("alerts.ctr_alert")
        return [
            ("daily.day_s", median(days), "s", f"median of {len(days)} report dates"),
            ("daily.alert_s", median(alerts), "s", f"median of {len(alerts)} alert jobs"),
        ]

    def layer_rows(self, tr, att):
        from statistics import median

        sp = tr.spans
        rows = [
            ("sources.fetch_s", median(spans.per_op(sp, "sources.fetch", group="day")), "s"),
            ("sources.landed_bytes", median(self.landed_bytes), "bytes"),
        ]
        for name in ("pipelines.export", "pipelines.csv_export", "pipelines.reload"):
            rows.append((name + "_s", median(tr.durations(name)), "s"))
        for key in ("files_committed", "partitions_touched", "bytes_written"):
            per = [0.0] * len(spans.under_ops(sp, "pipelines.export", group="day"))
            for job in ("pipelines.export", "pipelines.csv_export", "pipelines.reload",
                        "alerts.ctr_alert"):
                for k, v in enumerate(spans.per_op(
                        sp, job, lambda s: s["counts"].get(key, 0), group="day")):
                    per[k] += v
            rows.append((f"sinks.{key}", median(per), "bytes" if key == "bytes_written" else "count"))
        alert_spans = spans.named(sp, "alerts.ctr_alert")
        rows += [
            ("alerts.jobs", median(att["incl"][s["id"]].get("jobs", 0) for s in alert_spans), "count"),
            ("alerts.input_rows", median(self.alert_rows), "count"),
            ("alerts.input_files", median(self.alert_files), "count"),
        ]
        return [r + ("per report date",) for r in rows]
