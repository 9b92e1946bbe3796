"""Seeded inputs for the ``etl_batch`` and ``dashboard`` workloads.

Everything the program under test receives is written here: the CSV files
and the ``sources.json`` / ``destinations.json`` / ``mappings.json`` config
store.  Malformed dates and quantities are injected at recorded shares, and
every row's fate is kept in a :class:`FileModel`, so the expected success,
skipped and error counts of any file are known exactly — before and after
the dashboard's inline edits.

``curation`` reads the fixed parquet tables under ``data/sf0.01`` (a copy
of the deterministic sf0.01 test tables), so its seed only rotates query
order.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

SOURCE_ID = "trades"
DESTINATION_ID = "portfolio"
MAPPING_ID = "trades_to_portfolio"
SOURCE_DIR = "trades"
DEST_DIR = "portfolio"

COLUMNS = ["Date", "Ticker", "Type", "Quantity", "Price", "Total", "Currency", "Note"]
TYPES = ["BUY - MARKET", "SELL - MARKET", "DIVIDEND", "CASH TOP-UP", "CUSTODY FEE"]
TYPE_WEIGHTS = [0.40, 0.30, 0.10, 0.12, 0.08]
SKIPPED_TYPES = ("CASH TOP-UP", "CUSTODY FEE")
ACTIVITY = {"BUY - MARKET": "BUY", "SELL - MARKET": "SELL", "DIVIDEND": "DIVIDEND"}
TICKERS = ["AAPL", "MSFT", "NVDA", "AMZN", "TSLA", "GOOG", "META", "ASML", "SAP", "NESN"]
CURRENCIES = ["USD", "EUR", "CHF"]

# injected malformations: each makes exactly one field error on a kept row
BAD_DATE_SHARE = 0.02  # "07/01/2024 10:30" fails the date_format parse
BAD_QTY_SHARE = 0.015  # "n/a" reads as 0, so "Total / Quantity" divides by zero
BAD_DATE = "07/01/2024 10:30"
BAD_QTY = "n/a"

DEST_FIELDS = ["date", "symbol", "activity", "quantity", "unitPrice", "fee", "comment", "side"]


def config_store() -> dict[str, dict]:
    """The three reference-shaped config files.  The mapping has 8
    transforms of 7 kinds plus one skip filter."""
    source = {
        "id": SOURCE_ID,
        "name": "Broker trades",
        "description": "synthetic broker export",
        "default_directory": SOURCE_DIR,
        "columns": [{"name": c, "type": "string"} for c in COLUMNS],
        "delimiter": ",",
        "encoding": "utf-8",
        "has_header": True,
    }
    destination = {
        "id": DESTINATION_ID,
        "name": "Portfolio import",
        "description": "",
        "default_directory": DEST_DIR,
        "columns": [{"name": c, "type": "string"} for c in DEST_FIELDS],
        "delimiter": ",",
        "encoding": "utf-8",
        "has_header": True,
    }
    fm = [
        ("date", "Date", "date_format",
         {"input_format": "%Y-%m-%dT%H:%M:%S", "output_format": "%Y-%m-%d"}),
        ("symbol", "Ticker", "direct", {}),
        ("activity", "Type", "lookup", ACTIVITY),
        ("quantity", "Quantity", "direct", {}),
        ("unitPrice", None, "formula", {"expression": "Total / Quantity"}),
        ("fee", None, "constant", {"value": "0"}),
        ("comment", "Note", "suffix", {"value": " (imported)"}),
        ("side", None, "conditional",
         {"conditions": [{"if": "Type == 'SELL - MARKET'", "then": "short"}, {"else": "long"}]}),
    ]
    mapping = {
        "id": MAPPING_ID,
        "name": "Trades to portfolio",
        "source_id": SOURCE_ID,
        "destination_id": DESTINATION_ID,
        "description": "",
        "field_mappings": [
            {"destination_field": d, "source_field": s, "transform_type": t, "transform_config": c}
            for d, s, t, c in fm
        ],
        "filter_rules": [{"field": "Type", "operator": "in", "values": list(SKIPPED_TYPES)}],
    }
    return {
        "sources.json": {SOURCE_ID: source},
        "destinations.json": {DESTINATION_ID: destination},
        "mappings.json": {MAPPING_ID: mapping},
    }


def write_config(config_dir: Path) -> None:
    config_dir.mkdir(parents=True, exist_ok=True)
    for name, data in config_store().items():
        (config_dir / name).write_text(json.dumps(data, indent=2), encoding="utf-8")


@dataclass
class Counts:
    total: int
    skipped: int
    success: int
    errors: int
    error_rows: int

    @property
    def kept(self) -> int:
        return self.total - self.skipped


@dataclass
class FileModel:
    """What the benchmark knows about one CSV: per-row skip / malformed
    flags and the cells the dashboard's edits have changed."""

    path: Path
    types: np.ndarray  # index into TYPES
    skipped: np.ndarray
    bad_date: np.ndarray
    bad_qty: np.ndarray
    tickers: dict[int, str] = field(default_factory=dict)  # line -> edited Ticker

    def counts(self) -> Counts:
        kept = ~self.skipped
        errs = int((kept & self.bad_date).sum() + (kept & self.bad_qty).sum())
        err_rows = int((kept & (self.bad_date | self.bad_qty)).sum())
        n = len(self.skipped)
        return Counts(
            total=n,
            skipped=int(self.skipped.sum()),
            success=int(kept.sum()) - err_rows,
            errors=errs,
            error_rows=err_rows,
        )


def _rows(rng: np.random.Generator, n: int, bad_date_share: float, bad_qty_share: float):
    """n synthetic broker rows as CSV lines plus their fate flags."""
    types = rng.choice(len(TYPES), size=n, p=TYPE_WEIGHTS)
    skipped = np.isin(types, [TYPES.index(t) for t in SKIPPED_TYPES])
    bad_date = rng.random(n) < bad_date_share
    bad_qty = rng.random(n) < bad_qty_share
    month = rng.integers(1, 13, n)
    day = rng.integers(1, 29, n)
    secs = rng.integers(0, 86400, n)
    style = rng.integers(0, 3, n)  # plain, Z suffix, milliseconds + Z
    millis = rng.integers(0, 1000, n)
    tick = rng.integers(0, len(TICKERS), n)
    qty_cents = rng.integers(1, 50_000, n)  # never zero: only BAD_QTY divides by 0
    price_cents = rng.integers(100, 90_000, n)
    cur = rng.integers(0, len(CURRENCIES), n)
    note = rng.integers(0, 10_000, n)
    lines = []
    for i in range(n):
        if bad_date[i]:
            date = BAD_DATE
        else:
            s = int(secs[i])
            date = f"2024-{month[i]:02d}-{day[i]:02d}T{s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}"
            if style[i] == 1:
                date += "Z"
            elif style[i] == 2:
                date += f".{millis[i]:03d}Z"
        q = int(qty_cents[i])
        qty = BAD_QTY if bad_qty[i] else f"{q // 100}.{q % 100:02d}"
        total = q * int(price_cents[i]) // 100
        lines.append(
            f"{date},{TICKERS[tick[i]]},{TYPES[types[i]]},{qty},"
            f"{price_cents[i] // 100}.{price_cents[i] % 100:02d},{total // 100}.{total % 100:02d},"
            f"{CURRENCIES[cur[i]]},note {note[i]}"
        )
    return lines, types, skipped, bad_date, bad_qty


def write_csv(
    path: Path,
    rng: np.random.Generator,
    n_rows: int,
    bad_date_share: float = BAD_DATE_SHARE,
    bad_qty_share: float = BAD_QTY_SHARE,
) -> FileModel:
    path.parent.mkdir(parents=True, exist_ok=True)
    lines, types, skipped, bad_date, bad_qty = _rows(rng, n_rows, bad_date_share, bad_qty_share)
    with path.open("w", encoding="utf-8") as fh:
        fh.write(",".join(COLUMNS) + "\n")
        fh.write("\n".join(lines))
        fh.write("\n")
    return FileModel(path, types, skipped, bad_date, bad_qty)


def make_tree(
    root: Path, seed: int, n_files: int, rows_per_file: int, clean_files: int = 0
) -> list[FileModel]:
    """Config store under ``root/config`` and ``n_files`` CSVs under
    ``root/input/<source dir>``; the first ``clean_files`` carry no
    malformed values.  Same seed, same bytes."""
    rng = np.random.default_rng(seed)
    write_config(root / "config")
    src = root / "input" / SOURCE_DIR
    models = []
    for i in range(n_files):
        clean = i < clean_files
        models.append(
            write_csv(
                src / f"trades_{i:02d}.csv",
                rng,
                rows_per_file,
                0.0 if clean else BAD_DATE_SHARE,
                0.0 if clean else BAD_QTY_SHARE,
            )
        )
    (root / "output" / DEST_DIR).mkdir(parents=True, exist_ok=True)
    return models


def expected_totals(models: list[FileModel]) -> Counts:
    cs = [m.counts() for m in models]
    return Counts(
        total=sum(c.total for c in cs),
        skipped=sum(c.skipped for c in cs),
        success=sum(c.success for c in cs),
        errors=sum(c.errors for c in cs),
        error_rows=sum(c.error_rows for c in cs),
    )


def output_problems(out: Path, m: FileModel) -> list[str]:
    """What is wrong with the converted CSV of ``m``: header, row count,
    and per transform the counts the model predicts (rows are compared as
    multisets, since the output order is not part of the contract)."""
    import csv
    import re
    from collections import Counter

    with out.open(newline="", encoding="utf-8") as fh:
        header, *body = list(csv.reader(fh))
    kept = ~m.skipped
    if header != DEST_FIELDS:
        return [f"{out.name}: header {header}"]
    if len(body) != int(kept.sum()):
        return [f"{out.name}: {len(body)} rows, expected {int(kept.sum())}"]
    col = dict(zip(header, zip(*body))) if body else {f: () for f in header}
    types = [TYPES[t] for t in m.types[kept]]
    n_sell = types.count("SELL - MARKET")
    n_bad_date = int((kept & m.bad_date).sum())
    n_bad_qty = int((kept & m.bad_qty).sum())
    date_re = re.compile(r"2024-\d\d-\d\d$")
    expected = {
        "activity": Counter(col["activity"]) == Counter(ACTIVITY[t] for t in types),
        "side": Counter(col["side"]) == Counter({"short": n_sell, "long": len(body) - n_sell} if body else {}),
        "fee": set(col["fee"]) <= {"0"},
        "comment": all(c.endswith(" (imported)") for c in col["comment"]),
        "date": col["date"].count(BAD_DATE) == n_bad_date
        and sum(1 for d in col["date"] if date_re.match(d)) == len(body) - n_bad_date,
        "quantity": col["quantity"].count(BAD_QTY) == n_bad_qty,
        "unitPrice": col["unitPrice"].count("") == n_bad_qty,
    }
    return [f"{out.name}: column {c} does not match the inputs" for c, ok in expected.items() if not ok]


def output_path(root: Path, model: FileModel) -> Path:
    return root / "output" / DEST_DIR / f"{model.path.stem}_{DESTINATION_ID}.csv"


def good_date(rng: np.random.Generator) -> str:
    return f"2024-{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 29)):02d}T12:00:00"
