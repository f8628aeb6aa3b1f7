"""Seeded in-process fake of the AdMob Reporting API.

It is the ``transport`` of :class:`AdMobHttpChunkSource`, so the daily
workload drives the production source end to end without a network:

- the token endpoint answers the refresh-token grant;
- ``{network,mediation}Report:generate`` honours the request's
  ``dateRange`` and its ``APP`` ``dimensionFilters``;
- every response is a header chunk, the row chunks and a footer chunk;
- metrics arrive in every branch of the API's tagged union (integer
  strings, micros, doubles, and the decimal/value fallbacks), and a few
  optional metric keys are missing;
- impressions are real (never zero) and a seeded few percent of ad
  units shift their CTR well past the 25% alert threshold on the report
  dates, so some alerts fire and most do not.

Responses are serialised by :meth:`FakeAdMobApi.prepare` during set-up;
the transport only looks them up, so a timed ``fetch`` measures the
program and not this fixture. :meth:`FakeAdMobApi.expected_rows` gives
the rows the program must land, as the coercion chain reads them.
"""

from __future__ import annotations

import datetime
import json
import random
from dataclasses import dataclass

import numpy as np

TOKEN_URI = "https://oauth2.googleapis.com/token"

N_APPS = 20
UNITS_PER_APP = 10
AD_SOURCES = ("AdMob Network", "Meta Audience", "AppLovin", "Unity Ads", "Liftoff")
COUNTRIES = ("US", "IN", "BR", "DE", "JP", "GB", "FR", "ID", "MX", "KR")
FORMATS = ("BANNER", "INTERSTITIAL", "REWARDED", "NATIVE")
SHIFT_FRAC = 0.04  # share of ad units whose CTR moves on a report date

# Output column order of flatten_chunks(NETWORK_DIMS, NETWORK_METRICS).
NETWORK_COLUMNS = (
    "app_name", "format", "ad_unit_name", "ad_requests", "clicks",
    "estimated_earnings_micros", "impressions", "impression_ctr",
    "matched_requests", "match_rate", "impression_rpm", "show_rate",
)


@dataclass(frozen=True)
class AdUnit:
    app_id: str
    app_label: str
    unit_id: str
    unit_label: str | None  # None: the API sends the id only
    fmt: str
    base_ctr: float
    base_impr: int


def _ymd(d: datetime.date) -> str:
    return f"{d:%Y%m%d}"


class FakeAdMobApi:
    """Catalogue, daily traffic and canned responses for one seed."""

    def __init__(self, seed: int, shifted_dates: tuple[datetime.date, ...] = ()):
        self.seed = seed
        rng = random.Random(seed)
        self.units: list[AdUnit] = []
        self.app_labels: list[str] = []
        for a in range(N_APPS):
            app_id = f"ca-app-pub-{seed % 10**6:06d}~{rng.randrange(10**9):09d}"
            label = f"App {a:02d}"
            self.app_labels.append(label)
            for u in range(UNITS_PER_APP):
                self.units.append(
                    AdUnit(
                        app_id=app_id,
                        app_label=label,
                        unit_id=f"ca-app-pub-{seed % 10**6:06d}/{a:02d}{u:02d}{rng.randrange(10**4):04d}",
                        # a fixed fifth of the units have no display label
                        unit_label=None if rng.random() < 0.2 else f"app{a:02d}_unit{u:02d}",
                        fmt=FORMATS[rng.randrange(len(FORMATS))],
                        base_ctr=rng.uniform(0.005, 0.04),
                        base_impr=rng.randrange(20_000, 80_000),
                    )
                )
        self.shifted_dates = frozenset(shifted_dates)
        n_shift = max(1, round(SHIFT_FRAC * len(self.units)))
        self.shifted_units = frozenset(rng.sample(range(len(self.units)), n_shift))
        self.tokens = 0
        self._base_impr = np.array([u.base_impr for u in self.units], dtype=np.float64)
        self._base_ctr = np.array([u.base_ctr for u in self.units])
        self._days: dict[datetime.date, tuple[list[int], list[int]]] = {}
        self._responses: dict[tuple, bytes] = {}
        self._rows: dict[tuple, list[tuple]] = {}

    # -- traffic -------------------------------------------------------

    def _unit_day(self, i: int, d: datetime.date) -> tuple[int, int]:
        """(impressions, clicks) of unit ``i`` on ``d``, the same for
        every report kind that asks."""
        if d not in self._days:
            rng = np.random.default_rng((self.seed, d.toordinal()))
            n = len(self.units)
            impr = np.maximum(1000, (self._base_impr * rng.uniform(0.85, 1.15, n)).astype(np.int64))
            ctr = self._base_ctr * rng.uniform(0.95, 1.05, n)
            if d in self.shifted_dates:
                up = rng.random(n) < 0.5
                for j in self.shifted_units:
                    ctr[j] *= 2.0 if up[j] else 0.4
            self._days[d] = (impr.tolist(), (impr * ctr).astype(np.int64).tolist())
        impr, clicks = self._days[d]
        return impr[i], clicks[i]

    @staticmethod
    def _int_metric(v: int, rng: random.Random) -> dict:
        r = rng.random()
        if r < 0.85:
            return {"integerValue": str(v)}
        if r < 0.95:
            return {"decimalValue": f"{v}.0"}
        return {"value": str(v)}

    @staticmethod
    def _float_metric(v: float, rng: random.Random) -> dict:
        r = rng.random()
        if r < 0.85:
            return {"doubleValue": v}
        if r < 0.95:
            return {"decimalValue": repr(v)}
        return {"value": repr(v)}

    def _network_row(self, i: int, d: datetime.date, rng: random.Random, serve: bool):
        u = self.units[i]
        impr, clicks = self._unit_day(i, d)
        requests = int(impr * rng.uniform(1.1, 1.6))
        matched = int(requests * rng.uniform(0.8, 1.0))
        earnings = int(impr * rng.uniform(200, 3000))  # micros
        ctr = clicks / impr
        rpm = earnings / impr / 1000.0
        values = {
            "AD_REQUESTS": requests,
            "CLICKS": clicks,
            "ESTIMATED_EARNINGS": earnings,
            "IMPRESSIONS": impr,
            "IMPRESSION_CTR": ctr,
            "MATCHED_REQUESTS": matched,
            "MATCH_RATE": matched / requests,
            "IMPRESSION_RPM": rpm,
            "SHOW_RATE": impr / matched,
        }
        # optional metrics the API may leave out: the program reads 0
        for k in ("AD_REQUESTS", "MATCHED_REQUESTS", "SHOW_RATE"):
            if rng.random() < 0.03:
                values[k] = None
        got = {k: (0.0 if k == "SHOW_RATE" else 0) if v is None else v
               for k, v in values.items()}
        flat = (
            u.app_label, u.fmt, u.unit_label or u.unit_id,
            got["AD_REQUESTS"], got["CLICKS"], got["ESTIMATED_EARNINGS"],
            got["IMPRESSIONS"], got["IMPRESSION_CTR"], got["MATCHED_REQUESTS"],
            got["MATCH_RATE"], got["IMPRESSION_RPM"], got["SHOW_RATE"],
        )
        if not serve:
            return None, flat
        metrics = {}
        for k, v in values.items():
            if v is None:
                continue
            if k == "ESTIMATED_EARNINGS":
                metrics[k] = {"microsValue": str(v)}
            elif isinstance(v, int):
                metrics[k] = self._int_metric(v, rng)
            else:
                metrics[k] = self._float_metric(v, rng)
        unit_dim = {"value": u.unit_id}
        if u.unit_label is not None:
            unit_dim["displayLabel"] = u.unit_label
        chunk = {
            "row": {
                "dimensionValues": {
                    "DATE": {"value": _ymd(d)},
                    "APP": {"value": u.app_id, "displayLabel": u.app_label},
                    "FORMAT": {"value": u.fmt},
                    "AD_UNIT": unit_dim,
                },
                "metricValues": metrics,
            }
        }
        return chunk, flat

    def _mediation_rows(self, i: int, d: datetime.date, rng: random.Random):
        u = self.units[i]
        impr, clicks = self._unit_day(i, d)
        for s, src in enumerate(AD_SOURCES):
            for c, country in enumerate(COUNTRIES):
                share = (s + 1) * (c + 1)
                part_impr = max(1, impr * share // 165)
                part_clicks = clicks * share // 165
                requests = int(part_impr * rng.uniform(1.1, 1.6))
                matched = int(requests * rng.uniform(0.8, 1.0))
                earnings = int(part_impr * rng.uniform(200, 3000))
                metrics = {
                    "AD_REQUESTS": self._int_metric(requests, rng),
                    "CLICKS": self._int_metric(part_clicks, rng),
                    "ESTIMATED_EARNINGS": {"microsValue": str(earnings)},
                    "IMPRESSIONS": self._int_metric(part_impr, rng),
                    "IMPRESSION_CTR": self._float_metric(part_clicks / part_impr, rng),
                    "MATCHED_REQUESTS": self._int_metric(matched, rng),
                    "MATCH_RATE": self._float_metric(matched / requests, rng),
                    "OBSERVED_ECPM": {"microsValue": str(earnings * 1000 // part_impr)},
                }
                unit_dim = {"value": u.unit_id}
                if u.unit_label is not None:
                    unit_dim["displayLabel"] = u.unit_label
                yield {
                    "row": {
                        "dimensionValues": {
                            "DATE": {"value": _ymd(d)},
                            "APP": {"value": u.app_id, "displayLabel": u.app_label},
                            "AD_UNIT": unit_dim,
                            "AD_SOURCE": {"value": f"src-{s}", "displayLabel": src},
                            "AD_SOURCE_INSTANCE": {"value": f"inst-{s}-{c % 3}", "displayLabel": f"{src} #{c % 3}"},
                            "MEDIATION_GROUP": {"value": f"mg-{i % 7}", "displayLabel": f"Group {i % 7}"},
                            "COUNTRY": {"value": country},
                        },
                        "metricValues": metrics,
                    }
                }

    # -- responses -----------------------------------------------------

    def _matches(self, u: AdUnit, apps: tuple[str, ...] | None) -> bool:
        # The program passes display names as APP filter values and
        # filters its own output by display name, so a value matches an
        # app by id or by label.
        return apps is None or u.app_id in apps or u.app_label in apps

    def prepare(self, kind: str, start: datetime.date, end: datetime.date,
                apps: tuple[str, ...] | None = None) -> None:
        """Serialise the response to one report request."""
        key = (kind, _ymd(start), _ymd(end), tuple(sorted(apps)) if apps else None)
        if key not in self._responses:
            chunks, self._rows[key] = self._generate(kind, start, end, apps)
            self._responses[key] = json.dumps(chunks).encode()

    def network_rows(self, start: datetime.date, end: datetime.date) -> list[tuple]:
        """Network rows of a date range as ``(date,) + NETWORK_COLUMNS``,
        without building a response."""
        return self._generate("network", start, end, None, serve=False)[1]

    def _generate(self, kind, start, end, apps, serve=True) -> tuple[list[dict], list[tuple]]:
        chunks: list[dict] = [{
            "header": {
                "dateRange": {"startDate": _ymd(start), "endDate": _ymd(end)},
                "localizationSettings": {"currencyCode": "USD"},
            }
        }]
        flat_rows: list[tuple] = []
        d = start
        while d <= end:
            rng = random.Random(f"{self.seed}:{kind}:{d.toordinal()}")
            for i, u in enumerate(self.units):
                if not self._matches(u, apps):
                    continue
                if kind == "network":
                    chunk, flat = self._network_row(i, d, rng, serve)
                    chunks.append(chunk)
                    flat_rows.append((d,) + flat)
                else:
                    for chunk in self._mediation_rows(i, d, rng):
                        chunks.append(chunk)
                        flat_rows.append((d,))
            d += datetime.timedelta(days=1)
        chunks.append({"footer": {"matchingRowCount": str(len(chunks) - 1)}})
        return chunks, flat_rows

    def expected_rows(self, kind: str, start: datetime.date, end: datetime.date,
                      apps: tuple[str, ...] | None = None) -> list[tuple]:
        """Rows of a prepared request: network rows as ``(date,) +
        NETWORK_COLUMNS`` after the coercion chain; mediation rows as
        ``(date,)`` (only their count is checked)."""
        return self._rows[(kind, _ymd(start), _ymd(end), tuple(sorted(apps)) if apps else None)]

    def __call__(self, url: str, headers, body: bytes) -> bytes:
        if url == TOKEN_URI:
            self.tokens += 1
            return json.dumps({"access_token": f"fake-{self.tokens}", "expires_in": 3600}).encode()
        if not headers.get("Authorization", "").startswith("Bearer fake-"):
            raise PermissionError("report request without a token")
        kind = "network" if url.endswith("/networkReport:generate") else (
            "mediation" if url.endswith("/mediationReport:generate") else None)
        if kind is None:
            raise ValueError(f"unexpected url {url}")
        spec = json.loads(body)["reportSpec"]
        dr = spec["dateRange"]

        def ymd(p):
            return f"{p['year']:04d}{p['month']:02d}{p['day']:02d}"

        apps = None
        for f in spec.get("dimensionFilters", []):
            if f["dimension"] == "APP":
                apps = tuple(sorted(f["matchesAny"]["values"]))
        key = (kind, ymd(dr["startDate"]), ymd(dr["endDate"]), apps)
        if key not in self._responses:
            raise KeyError(f"request not prepared in set-up: {key}")
        return self._responses[key]
