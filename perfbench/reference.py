"""Plain-Python recomputation of the cleaning chains and the nine answers.

The oracle for ``batch_elt`` (the parquet answers ``runner.run_batch``
writes) and ``stream_ingest`` (the rows the streaming sink holds). It
works from the raw generated records and shares no code with the engine:
distinct rows, sentinel and empty strings to NULL, the per-entity
projections, then Q1-Q9 with the engine's tie and median semantics.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from common import rowset

ANSWERS = (
    "q1_top_category_per_country",
    "q2_category_counts_per_year",
    "q3_top_user_per_country",
    "q4_country_with_top_user",
    "q5_top_category_per_age_group",
    "q6_median_followers_per_age_group",
    "q7_users_joined_per_year",
    "q8_median_followers_by_join_year",
    "q9_median_followers_by_join_year_and_age",
)

SENTINELS = {
    "",
    "No description available Story format",
    "User Info Error",
    "Image src error",
    "N,o, ,T,a,g,s, ,A,v,a,i,l,a,b,l,e",
    "No Title Data Available",
}


def _null(v):
    return None if isinstance(v, str) and v in SENTINELS else v


def _followers(v):
    v = _null(v)
    if v is None:
        return None
    m = re.fullmatch(r"(\d+(?:\.\d+)?)([kM])", v)
    if m:
        return int(float(m.group(1)) * (1000 if m.group(2) == "k" else 1_000_000))
    return int(v) if re.fullmatch(r"[+-]?\d+", v.strip()) else None


def _bool(v):
    v = _null(v)
    return {"1": True, "0": False, "true": True, "false": False}.get(v.lower()) if v else None


def _ts(v):
    v = _null(v)
    return None if v is None else dt.datetime.fromisoformat(v)


def _concat(*parts):
    return None if any(p is None for p in parts) else " ".join(parts)


def clean_rows(entity: str, rows: list[dict]) -> tuple[list[str], list[tuple]]:
    """The cleaned table for one entity: distinct raw rows, sentinels and
    empty strings nulled, then the entity's projection."""
    out = []
    for r in _distinct(rows):
        n = {k: _null(v) for k, v in r.items()}
        if entity == "pin":
            save = n["save_location"]
            out.append((
                r["index"], n["unique_id"], n["title"], n["description"],
                _followers(r["follower_count"]), n["poster_name"], n["tag_list"],
                n["is_image_or_video"], n["image_src"],
                None if save is None else re.sub(r"^Local save in", "", save),
                n["category"], _bool(r["downloaded"]),
            ))
        elif entity == "geo":
            out.append((
                r["index"], None if n["country"] is None else n["country"].strip(),
                [n["latitude"], n["longitude"]], _ts(r["timestamp"]),
            ))
        else:
            out.append((r["index"], _concat(n["first_name"], n["last_name"]), r["age"], _ts(r["date_joined"])))
    return list(COLUMNS[entity]), out


COLUMNS = {
    "pin": ("ind", "unique_id", "title", "description", "follower_count", "poster_name",
            "tag_list", "is_image_or_video", "image_src", "save_location", "category", "downloaded"),
    "geo": ("ind", "country", "coordinates", "timestamp"),
    "user": ("ind", "user_name", "age", "date_joined"),
}


def _age_group(age):
    if age is None:
        return None
    if 18 <= age <= 24:
        return "18-24"
    if 25 <= age <= 35:
        return "25-35"
    if 36 <= age <= 50:
        return "36-50"
    return "50+" if age > 50 else None


def _median(values):
    xs = sorted(v for v in values if v is not None)
    if not xs:
        return None
    pos = (len(xs) - 1) / 2
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def _distinct(rows):
    seen, out = set(), []
    for r in rows:
        key = tuple(sorted(r.items()))
        if key not in seen:
            seen.add(key)
            out.append(r)
    return out


def reference_answers(pins, geos, users) -> dict[str, tuple[list[str], list[tuple]]]:
    """The nine answers as (columns, rows), from the raw records."""
    def table(entity, rows):
        cols, data = clean_rows(entity, rows)
        return {row[0]: dict(zip(cols, row)) for row in data}

    pin, geo, user = table("pin", pins), table("geo", geos), table("user", users)
    for u in user.values():
        u["year"] = None if u["date_joined"] is None else u["date_joined"].year
    for g in geo.values():
        g["year"] = None if g["timestamp"] is None else g["timestamp"].year
    pg = [(pin[i], geo[i]) for i in pin if i in geo]
    pu = [(pin[i], user[i]) for i in pin if i in user]

    counts = Counter((g["country"], p["category"]) for p, g in pg)
    best = defaultdict(int)
    for (country, _), c in counts.items():
        best[country] = max(best[country], c)
    q1 = [(k[0], k[1], c) for k, c in counts.items() if c == best[k[0]]]

    q2 = Counter(
        (g["year"], p["category"]) for p, g in pg if g["year"] and 2018 <= g["year"] <= 2022
    )
    top = defaultdict(lambda: None)
    for p, g in pg:
        fc = p["follower_count"]
        if fc is not None and (top[g["country"]] is None or fc > top[g["country"]]):
            top[g["country"]] = fc
    q3 = {
        (g["country"], p["poster_name"], p["follower_count"])
        for p, g in pg
        if p["follower_count"] is not None and p["follower_count"] == top[g["country"]]
    }
    q5 = Counter((_age_group(u["age"]), p["category"]) for p, u in pu)
    by_age = defaultdict(list)
    by_year = defaultdict(list)
    by_year_age = defaultdict(list)
    for p, u in pu:
        by_age[_age_group(u["age"])].append(p["follower_count"])
        if u["year"] and 2015 <= u["year"] <= 2020:
            by_year[u["year"]].append(p["follower_count"])
            by_year_age[(u["year"], _age_group(u["age"]))].append(p["follower_count"])
    q7 = Counter(u["year"] for u in user.values() if u["year"] and 2015 <= u["year"] <= 2020)
    return {
        "q1_top_category_per_country": (["country", "category", "category_count"], q1),
        "q2_category_counts_per_year": (
            ["post_year", "category", "category_count"],
            [(y, c, n) for (y, c), n in q2.items()],
        ),
        "q3_top_user_per_country": (["country", "poster_name", "follower_count"], sorted(q3, key=str)),
        # Q4 is a LIMIT 1 over possibly tied countries; checked separately.
        "q4_country_with_top_user": (["country", "follower_count"], [(None, max(top.values()))]),
        "q5_top_category_per_age_group": (
            ["age_group", "category", "category_count"],
            [(a, c, n) for (a, c), n in q5.items()],
        ),
        "q6_median_followers_per_age_group": (
            ["age_group", "median_follower_count"],
            [(a, _median(v)) for a, v in by_age.items()],
        ),
        "q7_users_joined_per_year": (["join_year", "number_users_joined"], list(q7.items())),
        "q8_median_followers_by_join_year": (
            ["join_year", "median_follower_count"],
            [(y, _median(v)) for y, v in by_year.items()],
        ),
        "q9_median_followers_by_join_year_and_age": (
            ["join_year", "age_group", "median_follower_count"],
            [(y, a, _median(v)) for (y, a), v in by_year_age.items()],
        ),
    }


def read_answer(out_dir: str, name: str) -> tuple[list[str], list[tuple]]:
    table = pq.read_table(os.path.join(out_dir, name))
    cols = table.column_names
    return cols, [tuple(r[c] for c in cols) for r in table.to_pylist()]


def check_answers(out_dir: str, expected: dict) -> list[tuple[str, str | None]]:
    """Compare the written answers with the reference; (name, error)."""
    out = []
    for name in ANSWERS:
        try:
            cols, rows = read_answer(out_dir, name)
            want_cols, want_rows = expected[name]
            if name == "q4_country_with_top_user":
                top = want_rows[0][1]
                q3_cols, q3_rows = expected["q3_top_user_per_country"]
                tied = {r[0] for r in q3_rows if r[2] == top}
                ok = sorted(cols) == sorted(want_cols) and len(rows) == 1
                row = dict(zip(cols, rows[0])) if ok else {}
                ok = ok and row["follower_count"] == top and row["country"] in tied
                err = None if ok else f"got {rows}, want follower_count {top} in {sorted(tied)}"
            elif sorted(cols) != sorted(want_cols):
                err = f"columns {sorted(cols)} != {sorted(want_cols)}"
            else:
                got = rowset(cols, rows)
                want = rowset(want_cols, want_rows)
                err = None if got == want else (
                    f"{len(got)} rows vs {len(want)} expected; first diff "
                    f"{next((a, b) for a, b in zip(got + [''], want + ['']) if a != b)}"
                )
        except Exception as exc:  # noqa: BLE001 — a missing answer is a failure
            err = f"{type(exc).__name__}: {exc}"
        out.append((name, err))
    return out


def check_table(path: str, entity: str, rows: list[dict]) -> str | None:
    """A cleaned table written under ``path`` must hold exactly the distinct
    ``rows``, cleaned; None when it does, else a one-line reason."""
    table = pq.read_table(path)
    got = rowset(table.column_names, [tuple(r.values()) for r in table.to_pylist()])
    want = rowset(*clean_rows(entity, rows))
    if got == want:
        return None
    extra, missing = len(set(got) - set(want)), len(set(want) - set(got))
    return f"{len(got)} rows, {len(want)} expected: {extra} unexpected, {missing} missing"


def output_files(out_dir: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(out_dir):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n
