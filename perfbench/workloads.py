"""Seeded input generator for the extraction-commit benchmark.

Every workload is a pages table (the program's only input) plus a golden
``(url, expected_text)`` file the program never sees. Pages come from
``ocr_spark.sources.pages.synth_page`` on seed-drawn doc ids, so the page
type of each row is ``doc_id % 20`` and the type mix is the synthesizer's
own.

Inputs are cached under ``<cache_root>/<workload>-seed<seed>-scale<scale>-
<fingerprint>/`` where the fingerprint hashes the program sources, so a
changed synthesizer never reuses stale pages.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import hashlib
import json
import os
import random
import shutil
import time

#: doc_id % 20 -> page type (see ocr_spark/sources/pages.py)
SPECIAL_TYPES = {
    0: "payload",
    2: "html_cp1252",
    5: "pdf",
    8: "image",
    10: "md",
    12: "code",
    14: "html_utf16",
    15: "docx",
}
PAGE_TYPES = (
    "html", "html_cp1252", "html_utf16", "md", "code", "docx", "payload", "pdf", "image",
)
# Page text follows the shape of the repo's documents table (TESTDATA.md,
# sf0.001 and sf0.1): 10-100 words a document, lang "en" on 39-41% of rows
# and fr, de, es and zh on 14-16% each. That table draws from 31 lowercase
# ASCII words; the lists here are per language instead, and sentences start
# with a capital and end with a stop, so that capitals, punctuation and
# non-ASCII letters reach the charset, font and CTC-vocab sanitizing paths.
# No word holds "<", ">" or "&": synth_page writes words into HTML unescaped.
WORDS = {
    "en": "the a fast slow key order sort table scan merge part window small big "
    "hash join batch stream spark group query row data filter customer line value "
    "agg column vector dup Spark Arrow engine's isn't 2026 42%",
    "fr": "le la les des une et données requête table tri fusion fenêtre clé rapide "
    "lent groupe colonne ligne valeur élément où été très déjà à ça",
    "de": "der die das und ein Daten Abfrage Tabelle Sortierung schnell langsam "
    "Schlüssel Größe über für Zeile Spalte Fenster Straße Gruppe Wert groß klein",
    "es": "el la los las y datos consulta tabla orden rápido lento clave grupo "
    "columna fusión ventana índice año más línea valor pequeño grande",
    "zh": "数据 查询 表 排序 合并 窗口 键 快 慢 分组 列 行 批 流 过滤 客户 值 向量 哈希 连接 大 小",
}
WORDS = {lang: tuple(words.split()) for lang, words in WORDS.items()}
LANG_WEIGHTS = {"en": 0.40, "fr": 0.15, "de": 0.15, "es": 0.15, "zh": 0.15}
WORDS_PER_DOC = (10, 100)
WORDS_PER_SENTENCE = (5, 12)
DOC_ID_BLOCKS = 5_000_000  # doc_id = 20 * block + residue
ROWS_PER_FILE = 500
WARM_PAGES_PER_RESIDUE = 2
# the warm table is split into many one-task files so that the warm pass
# forks a Python worker per core, not just one
WARM_ROWS_PER_FILE = 2


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    pages: int
    committed_share: float = 0.0  # share of urls committed before the timed commit


WORKLOADS = {
    w.name: w
    for w in (
        Workload("crawl_mix", 4000),
        Workload("recrawl_delta", 6000, committed_share=0.95),
    )
}


def page_type(url: str) -> str:
    return SPECIAL_TYPES.get(int(url.rsplit("/", 1)[1]) % 20, "html")


def source_fingerprint(root: str) -> str:
    """Hash of the program sources and this generator."""
    h = hashlib.sha256()
    paths = [os.path.abspath(__file__)]
    for d, _, files in os.walk(os.path.join(root, "ocr_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _text(rng: random.Random, lang: str) -> str:
    words = []
    n = rng.randint(*WORDS_PER_DOC)
    while len(words) < n:
        sentence = [rng.choice(WORDS[lang]) for _ in range(rng.randint(*WORDS_PER_SENTENCE))]
        sentence[0] = sentence[0][:1].upper() + sentence[0][1:]
        sentence[-1] += "。" if lang == "zh" else "."
        words += sentence
    return " ".join(words[:n])


def _draw_pages(rng: random.Random, n: int, block_lo: int, block_hi: int):
    from ocr_spark.sources.pages import synth_page

    seen: set[int] = set()
    rows = []
    while len(rows) < n:
        doc_id = 20 * rng.randrange(block_lo, block_hi) + rng.randrange(20)
        if doc_id in seen:
            continue
        seen.add(doc_id)
        lang = rng.choices(list(LANG_WEIGHTS), weights=list(LANG_WEIGHTS.values()))[0]
        rows.append(synth_page(doc_id, _text(rng, lang), lang))
    return rows


def _write_pages(rows, out_dir: str, rows_per_file: int = ROWS_PER_FILE) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    os.makedirs(out_dir)
    for i in range(0, len(rows), rows_per_file):
        chunk = rows[i : i + rows_per_file]
        cols = {
            "url": [r["url"] for r in chunk],
            "warc_ts": [r["warc_ts"].replace(tzinfo=dt.timezone.utc) for r in chunk],
            "html": [r["html"] for r in chunk],
            "text": [r["text"] for r in chunk],
            "lang": [r["lang"] for r in chunk],
        }
        pq.write_table(
            pa.table(cols, schema=schema),
            os.path.join(out_dir, f"part-{i // rows_per_file:05d}.parquet"),
        )


def dir_stats(path: str) -> tuple[int, int]:
    """(file count, total bytes) under ``path``."""
    files = nbytes = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            nbytes += os.path.getsize(os.path.join(d, n))
    return files, nbytes


@dataclasses.dataclass
class Inputs:
    """A generated workload on disk.

    ``pages`` is the table the program reads; ``committed`` (recrawl only)
    is the subset committed into the warehouse snapshot; ``warm1`` and
    ``warm2`` split a small all-types table for the untimed warm pass;
    ``golden`` holds
    ``(url, expected_text, in_snapshot)``.
    """

    dir: str
    meta: dict
    cache_hit: bool

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)


def prepare(workload: Workload, seed: int, scale: float, root: str, cache_root: str) -> Inputs:
    key = f"{workload.name}-seed{seed}-scale{scale:g}-{source_fingerprint(root)}"
    out = os.path.join(cache_root, key)
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return Inputs(out, json.load(f), True)

    t0 = time.perf_counter()
    rng = random.Random(f"{workload.name}:{seed}")
    n = max(1, round(workload.pages * scale))
    rows = _draw_pages(rng, n, 0, DOC_ID_BLOCKS)
    warm = _draw_pages(rng, 20 * WARM_PAGES_PER_RESIDUE, DOC_ID_BLOCKS, 2 * DOC_ID_BLOCKS)
    n_committed = round(n * workload.committed_share)

    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _write_pages(rows, os.path.join(tmp, "pages"))
    half = len(warm) // 2
    _write_pages(warm[:half], os.path.join(tmp, "warm1"), WARM_ROWS_PER_FILE)
    _write_pages(warm[half:], os.path.join(tmp, "warm2"), WARM_ROWS_PER_FILE)
    if n_committed:
        _write_pages(rows[:n_committed], os.path.join(tmp, "committed"))

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "url": [r["url"] for r in rows],
                "expected_text": [r["expected_text"] for r in rows],
                "in_snapshot": [i < n_committed for i in range(n)],
            }
        ),
        os.path.join(tmp, "golden.parquet"),
    )
    files, nbytes = dir_stats(os.path.join(tmp, "pages"))
    meta = {
        "workload": workload.name,
        "seed": seed,
        "scale": scale,
        "rows": n,
        "bytes": nbytes,
        "files": files,
        "committed_rows": n_committed,
        "pending_rows": n - n_committed,
        "gen_s": time.perf_counter() - t0,
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    os.makedirs(cache_root, exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return Inputs(out, meta, False)
