"""String / conditional scalar functions (SURVEY §2.8, F1-F12).

Each reference row-wise ``apply`` becomes a native Column expression:
NULL-propagation, trimming, and casing semantics match the pandas
originals but run inside whole-stage codegen.  File:line citations
point into /root/reference/etl_cid10.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_code(c: Column | str) -> Column:
    """F1 — NULL-safe ``str(x).strip().upper()`` (etl_cid10.py:11-14).

    NULL in → NULL out (pandas returned None for NaN; SQL NULL
    propagates natively through trim/upper).
    """
    return F.upper(F.trim(_col(c).cast("string")))


def extract_root_category(c: Column | str) -> Column:
    """F2 — normalize then take everything before the first ``.``
    (etl_cid10.py:17-21): ``"T65.9" -> "T65"``."""
    return F.substring_index(normalize_code(c), ".", 1)


def subcategory_or_null(c: Column | str) -> Column:
    """P7 — keep the code only when it is a subcategory (contains a
    dot), else NULL (etl_cid10.py:80,129)."""
    code = _col(c)
    return F.when(code.contains("."), code)


def concat_range(start: Column | str, end: Column | str) -> Column:
    """F5 — ``CATINIC + '-' + CATFIM`` → ``"A00-A09"``
    (etl_cid10.py:231,236).  Operands are normalized first, matching the
    ``.str.strip()``/``.upper()`` chains around the reference call sites."""
    return F.concat_ws("-", normalize_code(start), normalize_code(end))


def format_subcat(c: Column | str) -> Column:
    """F7 — insert the ICD dot into an undotted subcategory code
    (etl_cid10.py:249-258).

    ``s = upper(trim(code))``; if ``len(s) >= 4`` and the 4th char is
    non-blank → ``s[:3] + '.' + s[3:]``, else ``s[:3]``.
    """
    s = normalize_code(c)
    # "blank" in the reference is Python str.strip() — ANY whitespace,
    # not just the ASCII space that F.trim eats (found by hypothesis:
    # '000\r0' must collapse to '000', not dot after '\r')
    fourth_nonblank = (F.length(s) >= 4) & (~F.substring(s, 4, 1).rlike(r"^\s$"))
    dotted = F.concat(F.substring(s, 1, 3), F.lit("."), s.substr(F.lit(4), F.length(s)))
    return F.when(fourth_nonblank, dotted).otherwise(F.substring(s, 1, 3))
