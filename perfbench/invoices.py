"""Seeded vendor-invoice CSV generator with pure-Python ground truth.

Files follow the FIXTURES.md §A column set: 1-5 invoices per file and
1-40 line rows per invoice, with the edge-case matrix mixed in (beer
pack explosion, bottle short-circuit, zero quantities and packs, UPC
fallbacks, garbage dates, null invoice numbers, amount != sum of
extended prices).

The ground truth re-implements the receipt rules in plain Python, so
it is independent of the Spark expressions it checks. Receipts whose
invoice date does not parse fall back to the run date, which the CLI
takes from ``date.today()``; their ``month`` is recorded as ``None``
and resolved against the run month by the checker.
"""

from __future__ import annotations

import csv
import io
import math
import random
import re

HEADER = [
    "Invoice Number", "Vendor Name", "Retailer Name", "Retailer VendorID",
    "Vendor Store Number", "Retailer Store Number", "Fintech Process Date",
    "Invoice Date", "Invoice DueDate", "Invoice Amount", "Invoice Item Count",
    "Quantity", "Packs Per Case", "Units Per Pack", "Unit Of Measure",
    "GL Code", "Product Class", "Product Description", "Product Number",
    "Product Volume", "Extended Price", "Discount Adjustment Total",
    "DepositAdjustmentTotal", "Miscellaneous Adjustment Total",
    "Tax Adjustment Total", "Delivery Adjustment Total", "Pack UPC",
    "Clean UPC", "Case UPC",
]

VENDORS = [
    "Premium Distributors of Washington D.C., LLC",
    "Breakthru Beverage", "Southern Glazer's", "Reyes Beer Division", "",
]
# (GL Code, Product Class) pairs covering every category branch
GL_CLASSES = [
    ("BEER", "DOMESTIC"), ("beer - craft", "IMPORT"), ("WINE", "RED"),
    ("Spirits", "VODKA"), ("NONALCOHOL", "MISCELLANEOUS"),
    ("nonalcohol", "MIXERS"), ("SUPPLIES", ""), ("", ""),
]
UOMS = ["CA", "BO", "EA", "case", "bottle", "each", "12oz", "6 pack",
        "24ct", "count", "zz-garbage", ""]
PACKS = [0, 1, 2, 4, 6, 12, 24, 10]
UNITS = [0, 1, 4, 6, 12, 24]
BAD_DATES = ["", "TBD", "n/a", "??"]
DESCRIPTIONS = ["DAD STRENGTH IPA C24 12OZ 6P", "  HOUSE RED 750ML ",
                "VODKA 1L", "TONIC WATER 12OZ", "CUPS 50CT"]

BEER, WINE, SPIRITS, NON_ALC, MISC = (
    "BEER", "WINE", "SPIRITS", "NON-ALCOHOLIC", "MISCELLANEOUS")


def _num(s: str, default: float) -> float:
    try:
        v = float(s)
    except ValueError:
        return default
    return default if math.isnan(v) else v


def _int1(s: str) -> int:
    p = int(_num(s, 1.0))
    return 1 if p == 0 else p


def category(gl: str, pclass: str) -> str:
    g, p = gl.strip().upper(), pclass.strip().upper()
    if "BEER" in g:
        return BEER
    if "WINE" in g:
        return WINE
    if "SPIRIT" in g:
        return SPIRITS
    if "NONALCOHOL" in g:
        return MISC if "MISCELLANEOUS" in p else NON_ALC
    return MISC


def norm_uom(raw: str) -> str:
    low = raw.lower()
    if raw in ("", "nan"):
        return "unit"
    if "oz" in low:
        return "oz"
    if "ct" in low or "count" in low:
        return "ct"
    if "pack" in low:
        return "pack"
    if low == "ca" or "case" in low:
        return "case"
    if low == "bo" or "bottle" in low:
        return "bottle"
    if low == "ea" or "each" in low:
        return "each"
    return "unit"


def line_qty(row: dict[str, str]) -> int:
    """The receipt line quantity rule (FIXTURES.md §A rows 1-7)."""
    q = _num(row["Quantity"], 0.0)
    p, u = _int1(row["Packs Per Case"]), _int1(row["Units Per Pack"])
    cat = category(row["GL Code"], row["Product Class"])
    if norm_uom(row["Unit Of Measure"]) == "bottle":
        return int(q)
    if cat == BEER:
        return int(q * p * u) if p in (4, 6, 12, 24) else int(q * p)
    if cat == WINE:
        return int(q * p * u)
    return int(q * p)


_DATE = re.compile(r"^(\d{1,2})/(\d{1,2})/(\d{4})$")


def invoice_month(s: str) -> str | None:
    """'yyyy-MM' of an M/d/yyyy date, or None when the pipeline falls
    back to the run date. Only valid calendar dates are generated."""
    m = _DATE.match(s.strip())
    return f"{m.group(3)}-{int(m.group(1)):02d}" if m else None


def _upc(rng: random.Random, lo: int, hi: int) -> str:
    return "".join(rng.choice("0123456789") for _ in range(rng.randint(lo, hi)))


def _line(rng: random.Random, head: dict[str, str]) -> dict[str, str]:
    gl, pclass = rng.choice(GL_CLASSES)
    qty = rng.choice([0, 1, 2, 3, 5, 10, 24, 50, 2.5])
    adj = lambda share: f"{rng.choice([2.5, 1.25, 8.25, 0.1])}" \
        if rng.random() < share else rng.choice(["0", ""])
    upc_mode = rng.random()
    pack_upc = _upc(rng, 8, 14) if upc_mode < 0.5 else ""
    clean_upc = _upc(rng, 10, 16) if upc_mode < 0.8 else ""
    case_upc = _upc(rng, 12, 14) if upc_mode < 0.9 else ""
    return {
        **head,
        "Quantity": f"{qty}",
        "Packs Per Case": f"{rng.choice(PACKS)}",
        "Units Per Pack": f"{rng.choice(UNITS)}",
        "Unit Of Measure": rng.choice(UOMS),
        "GL Code": gl,
        "Product Class": pclass,
        "Product Description": rng.choice(DESCRIPTIONS),
        "Product Number": f"{rng.randint(1000, 99999)}",
        "Product Volume": rng.choice(["12OZ", "750ML", "1L", ""]),
        "Extended Price": f"{rng.randint(0, 200000) / 100:.2f}",
        "Discount Adjustment Total": adj(0.2),
        "DepositAdjustmentTotal": adj(0.1),
        "Miscellaneous Adjustment Total": adj(0.05),
        "Delivery Adjustment Total": adj(0.05),
        "Pack UPC": pack_upc,
        "Clean UPC": clean_upc,
        "Case UPC": case_upc,
    }


# Line counts of the 15 invoices in every block of 5 files. Each block
# holds the same rows in a seeded order, so a run's input volume does not
# swing with the seed while single files still range from 1 to ~170 rows.
BLOCK_LINES = [1, 3, 6, 8, 11, 13, 16, 19, 21, 24, 27, 30, 33, 36, 40]


def _block_shape(seed: int, index: int) -> list[int]:
    """Line counts of the invoices in file ``index``. Files of one block
    hold 3, 1, 5, 2 and 4 invoices, the same for every seed, because an
    ingest's cost grows with the receipts (and month partitions) it
    writes; the seed orders the line counts."""
    rng = random.Random(f"block-{seed}-{index // 5}")
    per_file = [3, 1, 5, 2, 4]
    lines = list(BLOCK_LINES)
    rng.shuffle(lines)
    start = sum(per_file[: index % 5])
    return lines[start:start + per_file[index % 5]]


def make_file(seed: int, index: int) -> tuple[str, dict]:
    """One CSV body and its ground truth.

    Truth: ``{"rows": n, "receipts": {receipt_id: {"month", "vendor",
    "total_amount", "subtotal", "item_count", "qty"}}}``; receipt ids
    are unique across every file of one seed.
    """
    rng = random.Random(seed * 1_000_003 + index)
    rows: list[dict[str, str]] = []
    receipts: dict[str, dict] = {}
    for k, n_lines in enumerate(_block_shape(seed, index)):
        inv = f"{(seed % 1000) * 10**7 + index * 10 + k + 100_000_000}"
        d = rng.randint(1, 28)
        m = rng.randint(1, 12)
        y = rng.choice([2024, 2025])
        date = (rng.choice(BAD_DATES) if rng.random() < 0.05
                else rng.choice([f"{m}/{d}/{y}", f"{m:02d}/{d:02d}/{y}"]))
        amount = rng.choice(["", f"{rng.randint(100, 500000) / 100:.2f}"])
        head = {c: "" for c in HEADER}
        head.update({
            "Invoice Number": inv,
            "Vendor Name": rng.choice(VENDORS),
            "Retailer Name": "Corner Market",
            "Retailer VendorID": f"R{rng.randint(1, 99)}",
            "Fintech Process Date": f"{m}/{d}/{y}",
            "Invoice Date": date,
            "Invoice DueDate": f"{m}/{d}/{y}",
            "Invoice Amount": amount,
            "Invoice Item Count": f"{n_lines}",
            "Tax Adjustment Total": rng.choice(["8.25", "0", ""]),
        })
        lines = [_line(rng, head) for _ in range(n_lines)]
        receipts[inv] = {
            "month": invoice_month(date),
            "vendor": head["Vendor Name"].strip() or "Unknown Vendor",
            "total_amount": _num(amount, 0.0),
            "subtotal": math.fsum(_num(r["Extended Price"], 0.0) for r in lines),
            "item_count": n_lines,
            "qty": sum(line_qty(r) for r in lines),
        }
        rows.extend(lines)
    # ~2% orphan rows with no invoice number: dropped by the pipeline
    for _ in range(sum(rng.random() < 0.02 for _ in rows)):
        orphan = dict(rng.choice(rows), **{"Invoice Number": ""})
        rows.insert(rng.randrange(len(rows) + 1), orphan)
    buf = io.StringIO()
    w = csv.DictWriter(buf, fieldnames=HEADER, lineterminator="\n")
    w.writeheader()
    w.writerows(rows)
    return buf.getvalue(), {"rows": len(rows), "receipts": receipts}
