#!/usr/bin/env python3
"""Write the seven SDMX submission CSVs the vintage choreography replays.

    python3 scripts/gen_sdmx_fixture.py [out_dir]

The default out_dir is src/test/resources/sdmx. The files are simplified
monthly exchange-rate submissions in the layout graft.sdmx.Sdmx.readSubmission
reads (header row, columns in the declared schema order, OBS_COM after
OBS_STATUS in data.6 only). The observation values come from a fixed
formula: they are synthetic and deterministic, not published rates.

    data.0  504 rows  NOK, RUB  1999-01..2019-12       initial load
    data.1    4 rows  NOK, RUB  2020-01..2020-02       merge: new months
    data.2  254 rows  CHF       1999-01..2020-02       merge: new series
    data.3  474 rows  CHF, NOK, RUB  2007-01..2020-02  full replacement
    data.4    3 rows  CHF, NOK, RUB  2020-03, OBS_STATUS F (forecasts)
    data.5    3 rows  2020-03 final values: NOK equals its forecast,
                      CHF and RUB differ from theirs
    data.6    1 row   CHF 2020-03 with OBS_COM 'Improved precision'
"""

import math
import os
import sys

COLUMNS = ["FREQ", "CURRENCY", "CURRENCY_DENOM", "EXR_TYPE", "EXR_SUFFIX",
           "TIME_PERIOD", "OBS_VALUE", "OBS_STATUS", "COLLECTION", "DECIMALS",
           "TITLE", "UNIT", "UNIT_MULT"]

# (level, title) per currency
SERIES = {
    "CHF": (1.25, "Swiss franc/Euro"),
    "NOK": (9.5, "Norwegian krone/Euro"),
    "RUB": (45.0, "Russian rouble/Euro"),
}


def periods(first, last):
    """Monthly YYYY-MM periods from first to last, both included."""
    y, m = map(int, first.split("-"))
    out = []
    while True:
        p = f"{y:04d}-{m:02d}"
        out.append(p)
        if p == last:
            return out
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)


def value(cur, period):
    """Synthetic smooth series: the currency's level times a slow wave."""
    y, m = map(int, period.split("-"))
    t = (y - 1999) * 12 + (m - 1)
    return SERIES[cur][0] * (1.0 + 0.08 * math.sin(t / 9.0) + 0.002 * t)


def row(cur, period, obs_value, status="A", comment=None):
    cells = ["M", cur, "EUR", "SP00", "A", period, f"{obs_value:.4f}", status]
    if comment is not None:
        cells.append(comment)
    cells += ["A", "4", SERIES[cur][1], cur, "0"]
    return cells


def submission(currencies, first, last, status="A"):
    return [row(c, p, value(c, p), status)
            for c in currencies for p in periods(first, last)]


def files():
    final = {"CHF": value("CHF", "2020-03") + 0.0125,
             "NOK": value("NOK", "2020-03"),
             "RUB": value("RUB", "2020-03") - 0.8125}
    return {
        0: submission(["NOK", "RUB"], "1999-01", "2019-12"),
        1: submission(["NOK", "RUB"], "2020-01", "2020-02"),
        2: submission(["CHF"], "1999-01", "2020-02"),
        3: submission(["CHF", "NOK", "RUB"], "2007-01", "2020-02"),
        4: submission(["CHF", "NOK", "RUB"], "2020-03", "2020-03", status="F"),
        5: [row(c, "2020-03", final[c]) for c in ["CHF", "NOK", "RUB"]],
        6: [row("CHF", "2020-03", final["CHF"], comment="Improved precision")],
    }


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..",
        "src", "test", "resources", "sdmx")
    os.makedirs(out, exist_ok=True)
    for i, rows in files().items():
        header = list(COLUMNS)
        if i == 6:
            header.insert(header.index("OBS_STATUS") + 1, "OBS_COM")
        with open(os.path.join(out, f"data.{i}.csv"), "w", newline="\n") as f:
            for cells in [header] + rows:
                f.write(",".join(cells) + "\n")


if __name__ == "__main__":
    main()
