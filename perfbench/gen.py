"""Seeded input generators for the benchmark.

Every generator is a pure function of ``(seed, size)``: the same pair
writes byte-identical files. Outputs are cached on disk under
``perfbench/.work/data/<kind>-<size parameters>-s<seed>/`` and reused; a ``done.json``
written last marks a complete entry and carries the expected values the
output checks compare against. Those expected values are computed here,
from the generated arrays, never by the engine under test.

* ``ghcn``: one fixed-width ``.dly`` file per station plus ``stations.txt``
  in the NOAA GHCN-Daily layout, with the reference's published element
  completeness, -9999 sentinels, month padding and non-pivoted elements.
* ``corpus``: the registry's sf0.1 ``documents`` (kept with the benchmark
  in ``data/sf0.1``) plus a seeded share of planted exact copies
  (whitespace variants) and near copies (word-level edits), so every stage
  of the curation funnel has known work to do.
"""

from __future__ import annotations

import json
import shutil
from collections import Counter
from pathlib import Path

import numpy as np

WORK = Path(__file__).resolve().parent / ".work"

# element -> share of station-days carrying a value (the reference's
# published completeness for its 913-station Georgia extract)
COMPLETENESS = {"TMAX": 0.279, "TMIN": 0.279, "PRCP": 0.919, "SNOW": 0.547, "SNWD": 0.185}
# recorded but not pivoted into silver; bronze keeps them
OTHER_ELEMENTS = {"TOBS": 0.15, "WT01": 0.08, "AWND": 0.10}
DAY_MISSING = 0.04  # in-month sentinel share on a recorded station-month
STATES = ("GA", "AL", "FL", "SC", "NC", "TN")

# "tiny" feeds the smoke tests and analytic_mix's mart; "bench" the runs
GHCN_SIZES = {"tiny": (6, 2), "bench": (50, 3)}  # (stations, years)
CORPUS_SIZES = {"tiny": 400, "bench": 5000}  # base documents, before the planted copies


def _cached(kind: str, size, seed: int, build) -> tuple[Path, dict]:
    """Build once per (kind, size parameters, seed); reuse afterwards."""
    dims = "x".join(str(d) for d in (size if isinstance(size, tuple) else (size,)))
    root = WORK / "data" / f"{kind}-{dims}-s{seed}"
    done = root / "done.json"
    if done.exists():
        return root, json.loads(done.read_text())
    if root.exists():
        shutil.rmtree(root)
    root.mkdir(parents=True)
    expected = build(root, np.random.default_rng([seed, _KIND_SALT[kind]]))
    done.write_text(json.dumps(expected, sort_keys=True))
    return root, expected


_KIND_SALT = {"ghcn": 1, "corpus": 3}


# --------------------------------------------------------------------- GHCN

def _fmt_lut() -> np.ndarray:
    """(19999, 5) uint8: right-aligned 5-char text of -9999..9999."""
    vals = np.arange(-9999, 10000)
    return np.array([f"{v:>5}".encode() for v in vals], dtype="S5").view(np.uint8).reshape(-1, 5)


def _days_in_month(years: np.ndarray, months: np.ndarray) -> np.ndarray:
    nxt = np.where(months == 12, 1, months + 1)
    nyr = np.where(months == 12, years + 1, years)
    first = (years - 1970) * 12 + (months - 1)
    d0 = np.array(first, dtype="datetime64[M]").astype("datetime64[D]")
    d1 = np.array((nyr - 1970) * 12 + (nxt - 1), dtype="datetime64[M]").astype("datetime64[D]")
    return (d1 - d0).astype(int)


def _ghcn_values(rng, el: str, month: np.ndarray, n: int) -> np.ndarray:
    """Raw tenths-unit values (n_lines, 31) for one element."""
    season = np.cos((month[:, None] - 7) * np.pi / 6)
    if el == "TMAX":
        v = 240 + 90 * season + rng.normal(0, 40, (n, 31))
    elif el == "TMIN":
        v = 120 + 90 * season + rng.normal(0, 40, (n, 31))
    elif el == "PRCP":
        v = np.where(rng.random((n, 31)) < 0.7, 0, rng.exponential(80, (n, 31)))
    elif el in ("SNOW", "SNWD"):
        v = np.where(rng.random((n, 31)) < 0.9, 0, rng.exponential(30, (n, 31)))
    else:
        v = rng.integers(0, 300, (n, 31))
    v = np.rint(v).astype(np.int64)
    # rare out-of-range readings that silver's bounds must null out
    bad = rng.random((n, 31)) < 0.002
    if el in ("TMAX", "TMIN"):
        v = np.where(bad, 700, v)
    elif el == "PRCP":
        v = np.where(bad, 2500, v)
    return np.clip(v, -9998, 9999)


def _build_ghcn(n_stations: int, n_years: int):
    def build(root: Path, rng) -> dict:
        first_year = 2016
        dly_dir = root / "dly"
        dly_dir.mkdir()
        lut = _fmt_lut()
        ids = [f"US{'C' if i % 3 else 'W'}00{i:06d}" for i in range(n_stations)]
        elements = {**COMPLETENESS, **OTHER_ELEMENTS}
        all_lines = []  # (station index, (year, month) rows, element, values (rows, 31))
        for si in range(n_stations):
            start = first_year + int(rng.integers(0, max(1, n_years // 2)))
            years = np.arange(start, first_year + n_years)
            ym = np.array([(y, m) for y in years for m in range(1, 13)])
            for el, share in elements.items():
                recorded = rng.random(len(ym)) < share / (1 - DAY_MISSING)
                sel = ym[recorded]
                if len(sel) == 0:
                    continue
                vals = _ghcn_values(rng, el, sel[:, 1], len(sel))
                vals = np.where(rng.random(vals.shape) < DAY_MISSING, -9999, vals)
                dim = _days_in_month(sel[:, 0], sel[:, 1])
                vals = np.where(np.arange(1, 32)[None, :] > dim[:, None], -9999, vals)
                all_lines.append((si, sel, el, vals))
        exp = _ghcn_expected(all_lines, ids)
        by_station: dict[int, list] = {}
        for si, sel, el, vals in all_lines:
            by_station.setdefault(si, []).append((sel, el, vals))
        raw_bytes = 0
        for si, parts in sorted(by_station.items()):
            rows = []
            for sel, el, vals in parts:
                n = len(sel)
                head = np.frombuffer(
                    b"".join(
                        f"{ids[si]:<11}{y:04d}{m:02d}{el:<4}".encode() for y, m in sel
                    ),
                    dtype=np.uint8,
                ).reshape(n, 21)
                slot = np.empty((n, 31, 8), dtype=np.uint8)
                slot[:, :, :5] = lut[vals + 9999]
                slot[:, :, 5:7] = ord(" ")
                slot[:, :, 7] = np.where(vals == -9999, ord(" "), ord("7"))
                keys = [(int(y), int(m), el) for y, m in sel]
                rows.append((keys, np.concatenate([head, slot.reshape(n, 248)], axis=1)))
            keys = [k for ks, _ in rows for k in ks]
            mat = np.concatenate([m for _, m in rows])
            order = sorted(range(len(keys)), key=keys.__getitem__)
            mat = np.concatenate([mat[order], np.full((len(order), 1), ord("\n"), np.uint8)], axis=1)
            path = dly_dir / f"{ids[si]}.dly"
            path.write_bytes(mat.tobytes())
            raw_bytes += mat.size
        lines = []
        for si, sid in enumerate(ids):
            lat = 30.5 + rng.random() * 4
            lon = -85 + rng.random() * 4
            elev = rng.random() * 400
            line = (
                f"{sid:<11} {lat:>8.4f} {lon:>9.4f} {elev:>6.1f} "
                f"{STATES[si % len(STATES)]:<2} {f'BENCH STATION {si}':<30}"
            )
            lines.append(line.ljust(81) + "US")
        (root / "stations.txt").write_text("\n".join(lines) + "\n")
        exp["raw_bytes"] = raw_bytes
        return exp

    return build


def _ghcn_expected(all_lines, ids) -> dict:
    """Row counts and integer checksums of every medallion output,
    from the generated values alone."""
    lines = 0
    bronze = 0
    day_keys = set()  # (station, ordinal day) with a pivoted observation
    tmax_sum = tmax_n = prcp_sum = prcp_n = 0
    for si, sel, el, vals in all_lines:
        lines += len(sel)
        valid = vals != -9999  # padding days are sentinels too
        bronze += int(valid.sum())
        if el not in COMPLETENESS:
            continue
        base = (sel[:, 0] * 12 + sel[:, 1] - 1) * 31
        rows, days = np.nonzero(valid)
        for k in (base[rows] + days).tolist():
            day_keys.add((si, k))
        v = vals[valid]
        if el == "TMAX":
            ok = (v >= -500) & (v <= 500)
            tmax_sum += int(v[ok].sum())
            tmax_n += int(ok.sum())
        elif el == "PRCP":
            ok = (v >= 0) & (v <= 2000)
            prcp_sum += int(v[ok].sum())
            prcp_n += int(ok.sum())
    month_keys = {(si, k // 31) for si, k in day_keys}
    return {
        "lines": lines,
        "bronze_rows": bronze,
        "silver_rows": len(day_keys),
        "monthly_rows": len(month_keys),
        "yearly_rows": len({(si, mk // 12) for si, mk in month_keys}),
        "normals_rows": len({(si, mk % 12) for si, mk in month_keys}),
        "tmax_n": tmax_n,
        "tmax_tenths_sum": tmax_sum,
        "prcp_n": prcp_n,
        "prcp_tenths_sum": prcp_sum,
        # monthly-mart rows per station and per year, for the lookups
        "station_months": dict(Counter(ids[si] for si, _ in month_keys)),
        "year_rows": dict(Counter(str(mk // 12) for _, mk in month_keys)),
    }


def ghcn(seed: int, size: str) -> tuple[list[str], str, dict]:
    """(dly paths, stations.txt path, expected values)."""
    st, yrs = GHCN_SIZES[size]
    root, exp = _cached("ghcn", (st, yrs), seed, _build_ghcn(st, yrs))
    paths = sorted(str(p) for p in (root / "dly").glob("*.dly"))
    return paths, str(root / "stations.txt"), exp


# ------------------------------------------------------------------- corpus

DOCUMENTS = Path(__file__).resolve().parent / "data" / "sf0.1" / "documents.parquet"
PLANTED = {"exact": 0.06, "near": 0.06}  # share of the base documents copied
JACCARD_FLOOR = 0.9  # planted near dups sit far above the 0.5 threshold


class _Curation:
    """The curation funnel, computed in plain Python from its definition
    (``pipelines/corpus.py`` and ``operators/textops.py``): the language,
    quality and length gates, keep-min exact dedup on the normalized text,
    word-shingle Jaccard near dedup closed into components, keep-min per
    component, and sliding-window chunks. Only the parameters come from
    the program (``CorpusPrepConfig`` and the stopword lists)."""

    def __init__(self):
        from ghcn_d_etl_project_spark.operators.textops import STOPWORDS
        from ghcn_d_etl_project_spark.pipelines.corpus import CorpusPrepConfig

        self.cfg = CorpusPrepConfig()
        assert self.cfg.shingle_unit == "word", "the funnel below shingles words"
        self.stop = {code: set(words) for code, words in sorted(STOPWORDS.items())}

    def shingles(self, toks: list[str]) -> set:
        n = self.cfg.shingle_n
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    def jaccard(self, a: list[str], b: list[str]) -> float:
        sa, sb = self.shingles(a), self.shingles(b)
        return len(sa & sb) / len(sa | sb)

    def passes(self, text: str) -> bool:
        toks = text.split()
        n_chars, n_toks = len(text), len(toks)
        hits = [(sum(t in sw for t in text.lower().split()), -i, code)
                for i, (code, sw) in enumerate(self.stop.items())]
        lang = max(hits)[2] if max(hits)[0] > 0 else "und"
        mean_tok = n_chars / n_toks if n_toks else 0.0
        punct = sum(text.count(c) for c in ".,!?;:") / n_chars if n_chars else 0.0
        quality = (
            min(n_chars / 200.0, 1.0) * 0.4
            + (1.0 if punct < 0.1 else 0.5) * 0.3
            + (1.0 if 3.0 <= mean_tok <= 10.0 else 0.5) * 0.3
        )
        return (lang in self.cfg.langs and quality >= self.cfg.min_quality
                and self.cfg.min_tokens <= n_toks <= self.cfg.max_tokens)

    def funnel(self, docs: list[dict]) -> dict:
        import re

        passing = [d for d in docs if self.passes(d["text"])]
        by_fp: dict[str, dict] = {}
        for d in passing:
            fp = re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", " ", d["text"].lower())).strip(" ")
            if fp not in by_fp or d["doc_id"] < by_fp[fp]["doc_id"]:
                by_fp[fp] = d
        exact = sorted(by_fp.values(), key=lambda d: d["doc_id"])
        # near-dup pairs: every pair sharing a shingle, verified exactly
        sets = [self.shingles(d["text"].split()) for d in exact]
        index: dict[str, list[int]] = {}
        for i, sh in enumerate(sets):
            for x in sh:
                index.setdefault(x, []).append(i)
        shared = Counter((a, b) for ids in index.values() for k, a in enumerate(ids) for b in ids[k + 1:])
        pairs = [(a, b) for (a, b), c in shared.items()
                 if c / len(sets[a] | sets[b]) >= self.cfg.jaccard_threshold]
        root = list(range(len(exact)))  # union-find; exact is sorted by id

        def find(i: int) -> int:
            while root[i] != i:
                root[i] = root[root[i]]
                i = root[i]
            return i

        for a, b in pairs:
            ra, rb = find(a), find(b)
            root[max(ra, rb)] = min(ra, rb)
        survivors = [d for i, d in enumerate(exact) if find(i) == i]
        stride, width = self.cfg.stride, self.cfg.chunk_tokens
        lens = [len(d["text"].split()) for d in survivors]
        return {
            "docs": len(docs),
            "filtered": len(passing),
            "exact_deduped": len(exact),
            "survivors": len(survivors),
            # each component needs at least (members - 1) verified pairs
            "min_pairs": len(exact) - len(survivors),
            "chunks": sum((max(n, 1) - 1) // stride + 1 for n in lens),
            "chunk_tokens": sum(min(width, n - s) for n in lens for s in range(0, n, stride)),
        }


def _near_dup(rng, toks: list[str], vocab: list[str], cur: _Curation) -> list[str]:
    """A word-level edit of ``toks`` whose shingle Jaccard with the
    original stays >= JACCARD_FLOOR."""
    for n_edits in (3, 2, 1):
        out = list(toks)
        for _ in range(n_edits):
            pos = int(rng.integers(0, len(out)))
            op = int(rng.integers(0, 3))
            word = vocab[int(rng.integers(0, len(vocab)))]
            if op == 0 and word != out[pos]:
                out[pos] = word
            elif op == 1:
                out.insert(pos, word)
            else:
                del out[pos]
        if out != toks and cur.jaccard(toks, out) >= JACCARD_FLOOR:
            return out
    # one word appended changes one shingle: Jaccard k/(k+1) >= 0.9 for
    # the >= 12-token documents chosen as near-dup bases
    return toks + [vocab[int(rng.integers(0, len(vocab)))]]


def _build_corpus(n_base: int):
    def build(root: Path, rng) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pq.read_table(DOCUMENTS).slice(0, n_base)
        base = table.to_pylist()
        cur = _Curation()
        vocab = sorted({w for d in base for w in d["text"].split()})
        docs = list(base)
        exact_src = rng.choice(len(base), int(len(base) * PLANTED["exact"]), replace=False)
        long_enough = [i for i, d in enumerate(base) if len(d["text"].split()) >= 12]
        near_src = rng.choice(long_enough, int(len(base) * PLANTED["near"]), replace=False)
        for i in exact_src:  # whitespace variants: the same normalized text
            d = base[int(i)]
            text = "  ".join(d["text"].split()) if rng.random() < 0.5 else " " + d["text"] + " "
            docs.append({**d, "text": text, "n_chars": len(text)})
        for i in near_src:
            d = base[int(i)]
            text = " ".join(_near_dup(rng, d["text"].split(), vocab, cur))
            docs.append({**d, "text": text, "n_chars": len(text)})
        # fresh ids, so keep-min does not simply keep the original
        for d, new_id in zip(docs, rng.permutation(len(docs)).tolist()):
            d["doc_id"] = new_id
        docs.sort(key=lambda d: d["doc_id"])
        pq.write_table(pa.Table.from_pylist(docs, schema=table.schema), root / "documents.parquet")
        expected = cur.funnel(docs)
        expected["input_bytes"] = (root / "documents.parquet").stat().st_size
        return expected

    return build


def corpus(seed: int, size: str) -> tuple[str, dict]:
    """(directory holding documents.parquet, expected funnel)."""
    root, exp = _cached("corpus", CORPUS_SIZES[size], seed, _build_corpus(CORPUS_SIZES[size]))
    return str(root), exp


if __name__ == "__main__":  # generate one input set, print its summary
    import sys
    import time

    kind, seed, size = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    t0 = time.perf_counter()
    out = {"ghcn": ghcn, "corpus": corpus}[kind](seed, size)
    summary = out[-1]
    print(json.dumps({k: v for k, v in summary.items() if not isinstance(v, (list, dict))}),
          f"{time.perf_counter() - t0:.2f}s")
