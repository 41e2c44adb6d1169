"""The lake's seeded daily CSV batch.

Everything here is a pure function of the seed: the same seed writes
byte-identical files, a different seed different ones. Nothing imports
Spark; the program under test only ever sees the files written here.

``write_day_batch`` writes one business day per CSV file with the dirt
catalogue of FIXTURES.md sections 1-4 (header synonyms, shuffles, an extra
column, a missing optional column, ``;`` and tab delimiters, BOMs, the measured
timestamp mix, dirty currency, revenue mismatches, blank lines, exact
duplicate lines) plus cross-file replays of earlier transaction ids. It
returns what the program must produce from those files, derived from the
generator's own knowledge of every row, never from the program.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

# --------------------------------------------------------------------------
# Lake day batch
# --------------------------------------------------------------------------

_CANONICAL = [
    "transaction_id",
    "store_id",
    "timestamp",
    "item_id",
    "item_category",
    "quantity",
    "unit_price",
    "revenue",
    "payment_method",
    "customer_id",
]
_CATEGORIES = ["Clothing", "Sports", "Toys", "Home", "Groceries", "Electronics"]
_PAYMENTS = ["Card", "Cash", "Transfer", "Mobile"]
_ALNUM_UP = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
_ALNUM_LO = "abcdefghijklmnopqrstuvwxyz0123456789"

#: Header variants (FIXTURES.md section 2), one per file in order, so every
#: seed's batch has the same shape: a shuffled header with an extra column
#: and a synonym behind a BOM, ``;``-delimited; and mixed-case/space/dash
#: synonyms with the optional ``customer_id`` absent, tab-delimited.
#: Each entry: (header cells in file order, the canonical column of each
#: cell with ``None`` for the ignored ``discount_code``, delimiter, BOM).
_VARIANTS: list[tuple[list[str], list[str | None], str, bool]] = [
    (
        ["item_id", "revenue", "storeid", "transaction_id", "discount_code", "customer_id",
         "item_category", "quantity", "payment_method", "timestamp", "unit_price"],
        ["item_id", "revenue", "store_id", "transaction_id", None, "customer_id",
         "item_category", "quantity", "payment_method", "timestamp", "unit_price"],
        ";",
        True,
    ),
    (
        ["Transaction ID", "Store-ID", "Timestamp", "Item ID", "Category", "Qty", "Price",
         "Amount", "Payment Method"],
        _CANONICAL[:-1],
        "\t",
        False,
    ),
]

#: Parseable timestamp renderings (the engine's reference cascade).
_GOOD_TS = [
    "%Y-%m-%d {H}:%M:%S",
    "%Y-%m-%d {H}:%M",
    "%Y/%m/%d {H}:%M:%S",
    "%Y/%m/%d {H}:%M",
    "%m/%d/%Y {H}:%M:%S",
    "%m/%d/%Y {H}:%M",
    "%m/%d/%Y",
    "%Y-%m-%d",
    "%Y/%m/%d",
    "%Y%m%d %H%M%S",
    "%Y%m%d",
]

#: Unparseable classes with their measured shares of all rows
#: (FIXTURES.md section 3: ~30% of rows are INVALID_TIMESTAMP_FORMAT).
_BAD_TS = [("iso_t", 0.055), ("dd_mm_yy", 0.095), ("ampm", 0.135), ("empty", 0.01), ("impossible", 0.005)]

#: Share of the batch's good transaction ids re-sent in a later file.
REPLAY_SHARE = 0.05

STRUCTURAL = "MISSING_REQUIRED_COLUMN"
TIMESTAMP = "INVALID_TIMESTAMP_FORMAT"
BUSINESS = "BUSINESS_LOGIC_FAIL"


@dataclass
class FileExpect:
    """What ingesting one file must report (``IngestResult.counts``)."""

    name: str
    data_rows: int = 0
    structural_rejects: int = 0
    timestamp_rejects: int = 0
    duplicates_removed: int = 0
    business_rejects: int = 0
    good_rows: int = 0

    def counts(self) -> dict:
        out = {k: v for k, v in self.__dict__.items() if k != "name"}
        out["reject_rows"] = self.structural_rejects + self.timestamp_rejects + self.business_rejects
        return out


@dataclass
class BatchExpect:
    """Expected outcome of ingesting and compacting a whole day batch."""

    files: list[FileExpect] = field(default_factory=list)
    raw_rows: int = 0
    raw_bytes: int = 0
    replays: int = 0
    #: gold survivors: (transaction_id, source_file, date, item_id, revenue)
    gold: list[tuple[str, str, date, str, float]] = field(default_factory=list)

    @property
    def silver_rows(self) -> int:
        return sum(f.good_rows for f in self.files)


def _render_ts(rng: random.Random, t: datetime, kind: str) -> str:
    if kind == "good":
        fmt = rng.choice(_GOOD_TS)
        return t.strftime(fmt.replace("{H}", str(t.hour)))
    if kind == "iso_t":
        return t.strftime("%Y-%m-%dT%H:%M:%S")
    if kind == "dd_mm_yy":
        return t.strftime("%d-%m-%y ") + f"{t.hour}:{t.minute:02d}"
    if kind == "ampm":
        return t.strftime("%m/%d/%Y %I:%M%p")
    if kind == "empty":
        return ""
    return f"{t.year}/02/30 25:61"  # passes a regex gate, never parses


def _money(v: float, dirty: bool, delimiter: str) -> str:
    if not dirty:
        return f"{v:.2f}"
    if v >= 1000 and delimiter != ",":
        return f"${v:,.2f}"  # thousands separator only where it is not the delimiter
    return f"${v:.2f}"


def write_day_batch(
    out_dir: str, seed: int, n_files: int = 2, rows_per_file: int = 4_000, first_day: date = date(2025, 6, 2)
) -> BatchExpect:
    """Write ``n_files`` CSV files, one business day each, into ``out_dir``
    and return the expected ingest/compaction outcome."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    used_ids: set[str] = set()

    def new_id(alphabet: str, n: int) -> str:
        while True:
            v = "".join(rng.choice(alphabet) for _ in range(n))
            if v not in used_ids:
                used_ids.add(v)
                return v

    expect = BatchExpect()
    files = []  # (name, variant, FileExpect, lines, good records)
    for fi in range(n_files):
        variant = _VARIANTS[fi % len(_VARIANTS)]
        delim = variant[2]
        day = first_day + timedelta(days=fi)
        fx = FileExpect(f"sales_{day.isoformat()}.csv")
        lines: list[str] = []
        file_good: list[dict] = []
        for _ in range(rows_per_file):
            t = datetime.combine(day, datetime.min.time()) + timedelta(seconds=rng.randrange(86400))
            q = rng.randint(1, 10)
            price = round(rng.uniform(1, 500), 2)
            rev = round(q * price, 2)
            rec = {
                "transaction_id": new_id(_ALNUM_UP, 12),
                "store_id": f"S{rng.randint(1, 20):03d}",
                "item_id": f"ITEM{rng.randint(1, 500):05d}",
                "item_category": rng.choice(_CATEGORIES),
                "payment_method": rng.choice(_PAYMENTS),
                "customer_id": new_id(_ALNUM_LO, 8),
            }
            outcome = "good"
            u = rng.random()
            ts_kind = "good"
            if u < 0.02:
                outcome = STRUCTURAL  # wrong-delimiter row: one token per line
            else:
                acc = 0.02
                for kind, share in _BAD_TS:
                    acc += share
                    if u < acc:
                        ts_kind, outcome = kind, TIMESTAMP
                        break
            rec["timestamp"] = _render_ts(rng, t, ts_kind)
            qty_s, price_s, rev_s = str(q), f"{price:.2f}", f"{rev:.2f}"
            if outcome == "good":
                v = rng.random()
                if v < 0.005:  # N/A numerics
                    field_ = rng.choice(["q", "p", "r"])
                    qty_s, price_s, rev_s = (
                        "N/A" if field_ == "q" else qty_s,
                        "N/A" if field_ == "p" else price_s,
                        "N/A" if field_ == "r" else rev_s,
                    )
                    outcome = BUSINESS
                elif v < 0.01:  # empty quantity or revenue
                    if rng.random() < 0.5:
                        qty_s = ""
                    else:
                        rev_s = ""
                    outcome = BUSINESS
                elif v < 0.015:  # revenue != quantity * unit_price
                    rev = round(rev + rng.uniform(1, 50), 2)
                    rev_s = f"{rev:.2f}"
                    outcome = BUSINESS
                elif v < 0.018:  # refund in accounting notation
                    q, rev = -1, -price
                    qty_s, rev_s = "-1", f"({price:.2f})"
                elif v < 0.033:  # currency strings, still clean after parsing
                    price_s = _money(price, rng.random() < 0.5, delim)
                    rev_s = _money(rev, True, delim)
            rec.update(quantity=qty_s, unit_price=price_s, revenue=rev_s)
            lines.append(_emit(rec, variant, bad_delim=outcome == STRUCTURAL))
            fx.data_rows += 1
            if outcome == STRUCTURAL:
                fx.structural_rejects += 1
            elif outcome == TIMESTAMP:
                fx.timestamp_rejects += 1
            elif outcome == BUSINESS:
                fx.business_rejects += 1
            else:
                fx.good_rows += 1
                rec["_file"], rec["_date"], rec["_rev"] = fx.name, day, rev
                file_good.append(rec)

        # exact duplicate lines of good rows: dropped by silver's row dedup
        for rec in rng.sample(file_good, min(5, len(file_good))):
            lines.insert(rng.randrange(len(lines) + 1), _emit(rec, variant))
            fx.data_rows += 1
            fx.duplicates_removed += 1
        files.append((variant, fx, lines, file_good))

    # Replays: about REPLAY_SHARE of all good ids are re-sent, with a new
    # payload, in a later file (so the last file's ids are never replayed);
    # gold keeps the later version, whose ingest_ts is newer.
    gold = {rec["transaction_id"]: rec for _, _, _, good in files for rec in good}
    p_replay = REPLAY_SHARE * n_files / (n_files - 1) if n_files > 1 else 0.0
    for fi, (_, _, _, good) in enumerate(files[:-1]):
        for orig in good:
            if orig["quantity"] == "-1" or rng.random() >= p_replay:
                continue
            variant, fx, lines, _ = files[rng.randrange(fi + 1, n_files)]
            q = rng.randint(1, 10)
            price = float(orig["unit_price"].replace("$", "").replace(",", ""))
            rep = dict(orig, quantity=str(q), unit_price=f"{price:.2f}", _file=fx.name)
            rep.update(
                revenue=f"{round(q * price, 2):.2f}",
                payment_method=rng.choice(_PAYMENTS),
                _rev=round(q * price, 2),
            )
            lines.insert(rng.randrange(len(lines) + 1), _emit(rep, variant))
            fx.data_rows += 1
            fx.good_rows += 1
            gold[rep["transaction_id"]] = rep
            expect.replays += 1

    for (header, _cols, delim, bom), fx, lines, _ in files:
        for _ in range(rng.randint(4, 14)):  # blank lines are skipped
            lines.insert(rng.randrange(1, len(lines) + 1), "")
        text = ("\ufeff" if bom else "") + delim.join(header) + "\n" + "\n".join(lines) + "\n"
        data = text.encode("utf-8")
        with open(os.path.join(out_dir, fx.name), "wb") as f:
            f.write(data)
        expect.raw_bytes += len(data)
        expect.raw_rows += fx.data_rows
        expect.files.append(fx)

    expect.gold = sorted(
        (tid, r["_file"], r["_date"], r["item_id"], r["_rev"]) for tid, r in gold.items()
    )
    return expect


def _emit(rec: dict, variant, bad_delim: bool = False) -> str:
    """One CSV line of ``rec`` in the file's column order; ``bad_delim``
    joins it with a delimiter the file does not use."""
    _header, cols, delim, _bom = variant
    cells = [
        ("SAVE10" if rec["payment_method"] == "Card" else "") if c is None else rec[c]
        for c in cols
    ]
    return (";" if delim != ";" else ",").join(cells) if bad_delim else delim.join(cells)
