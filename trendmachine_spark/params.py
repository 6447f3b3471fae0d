"""Engine constants and scoring parameters.

Mirrors the reference's operational constants and default sigmoid
parameters (reference: /root/reference/main.py:19-23, :292-350) without
copying any code: these are plain data tables re-declared for Spark.
"""

from __future__ import annotations

from dataclasses import dataclass

#: Wayback Machine replay prefix used for URIM projection (main.py:21).
WBM = "https://web.archive.org/web"

#: CDX API endpoint (main.py:22) — only used by the optional live source.
CDXAPI = "https://web.archive.org/cdx/search/cdx"

#: Hard cap on CDX pages per URL (main.py:23).
MAXCDXPAGES = 2000

#: Sliding-window size for the normalized chaos score (main.py:135).
SWS = 1000

#: Specimen priority by status class (main.py:134). Unknown classes get 0;
#: the first capture of a day always beats the initial -1 sentinel, so a
#: day whose captures are all unknown-class keeps its first capture as
#: specimen.
STATUS_PRIORITY = {"2xx": 4, "4xx": 3, "5xx": 2, "3xx": 1}

#: Valid specimen classes for the transition matrix (main.py:232-237).
TRANSITION_CLASSES = ("2xx", "3xx", "4xx", "5xx")

#: Timestamp-prefix lengths per period granularity (samples.py:2-9).
PERIOD_PREFIX = {
    "Second": 14,
    "Minute": 12,
    "Hour": 10,
    "Day": 8,
    "Month": 6,
    "Year": 4,
}


@dataclass(frozen=True)
class SigmoidParam:
    """One (shift, slope, spread) triple; sigmoid(x) = spread / (1 + exp(shift - x/slope))."""

    shift: float
    slope: float
    spread: float

    def as_tuple(self) -> tuple[float, float, float]:
        return (self.shift, self.slope, self.spread)


#: Reference default sigmoid parameters (main.py:292-350 slider defaults).
#: Keys: status classes for Resilience, content states for Fixity,
#: '~' = unobserved day.
DEFAULT_SIGPARAMS: dict[str, SigmoidParam] = {
    "2xx": SigmoidParam(4, 1.0, 1.0),
    "3xx": SigmoidParam(5, 10.0, -0.5),
    "4xx": SigmoidParam(5, 1.0, -1.0),
    "5xx": SigmoidParam(5, 1.0, -1.0),
    "~": SigmoidParam(10, 20.0, -0.5),
    "Changed": SigmoidParam(6, 1.0, -1.0),
    "Unchanged": SigmoidParam(4, 1.0, 1.0),
    "Unknown": SigmoidParam(10, 30.0, -0.5),
}

#: Gap-fill policies supported by the engine (main.py:81-86).
FILL_POLICIES = ("identical", "closest", "forward", "backward")

#: Daily-series column -> report column, in the canonical report order
#: (main.py:230-231, verified by executing the reference — see SURVEY.md
#: §1.2); the report's last column, URIM, is derived from Datetime + url.
REPORT_NAMES = {
    "day_str": "Day",
    "datetime": "Datetime",
    "_2xx": "2xx",
    "_3xx": "3xx",
    "_4xx": "4xx",
    "_5xx": "5xx",
    "all": "All",
    "specimen": "Specimen",
    "filled": "Filled",
    "resilience": "Resilience",
    "digest": "Digest",
    "content": "Content",
    "fixity": "Fixity",
    "chaos": "Chaos",
    "chaosn": "Chaosn",
}

#: Canonical daily-table report column order.
REPORT_COLUMNS = [*REPORT_NAMES.values(), "URIM"]
