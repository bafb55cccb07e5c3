"""Seeded workload inputs, built without any reference fixture files.

The pages corpus comes from ``synth``'s public page builders only
(``synth_page_html``, ``adversarial_page_html``, ``pdf_rows``); the seed
shifts the page-id range and keeps the mix: zipf-skewed hosts, every 20th
url recrawled a day later with a changed body (5%), every 16th page
adversarial, and a few PDFs.  The host graph is a seeded skewed-degree
edge table.  Both are written as parquet with pyarrow, so the program under
test receives only the generated tables.
"""

from __future__ import annotations

import datetime
import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

from extractor_spark.spark.synth import (
    ADVERSARIAL_EVERY,
    adversarial_page_html,
    pdf_rows,
    synth_page_html,
)

RECRAWL_EVERY = 20
N_HOSTS = 50
N_PDFS = 8
SEED_STRIDE = 1_000_000
BASE_TS = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)

PAGES_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def unit(seed: int, key: str) -> float:
    """Deterministic uniform [0, 1) from (seed, key)."""
    digest = hashlib.sha256(f"{seed}:{key}".encode()).digest()
    return int.from_bytes(digest[:8], "big") / 2**64


def zipf_index(u: float, n: int, s: float = 1.0) -> int:
    """Index in [0, n) with weight 1/(k+1)^s, from a uniform ``u``."""
    weights = [1.0 / (k + 1) ** s for k in range(n)]
    target, acc = u * sum(weights), 0.0
    for k, w in enumerate(weights):
        acc += w
        if target < acc:
            return k
    return n - 1


def page_rows(seed: int, n_pages: int, with_pdfs: bool = True) -> list[dict]:
    """The pages table as rows; recrawls share the url with a later ts."""
    first = seed * SEED_STRIDE
    rows = []
    for page_id in range(first, first + n_pages):
        host = f"site-{zipf_index(unit(seed, f'host{page_id}'), N_HOSTS):02d}.example.org"
        url = f"https://{host}/article/{page_id}"
        ts = BASE_TS + datetime.timedelta(seconds=page_id * 17 % 31_536_000)
        lang = "en" if unit(seed, f"lang{page_id}") < 0.9 else "de"
        html = (
            adversarial_page_html(page_id)
            if page_id % ADVERSARIAL_EVERY == 7
            else synth_page_html(page_id)
        )
        rows.append({"url": url, "warc_ts": ts, "html": html.encode(), "text": None, "lang": lang})
        if page_id % RECRAWL_EVERY == 0:
            rows.append(
                {
                    "url": url,
                    "warc_ts": ts + datetime.timedelta(days=1),
                    "html": synth_page_html(page_id, variant=1).encode(),
                    "text": None,
                    "lang": lang,
                }
            )
    if with_pdfs:
        for r in pdf_rows(N_PDFS):
            rows.append({**r, "warc_ts": r["warc_ts"].replace(tzinfo=datetime.timezone.utc)})
    return rows


def newest_by_url(rows: list[dict]) -> dict[str, dict]:
    newest: dict[str, dict] = {}
    for r in rows:
        if r["url"] not in newest or r["warc_ts"] > newest[r["url"]]["warc_ts"]:
            newest[r["url"]] = r
    return newest


def write_rows(rows: list[dict], schema: pa.Schema, path: str, files: int = 8) -> None:
    """Write ``rows`` as ``files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // files)
    for i in range(files):
        chunk = rows[i * step : (i + 1) * step]
        if chunk:
            table = pa.Table.from_pylist(chunk, schema=schema)
            pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))


CONVERTED_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("markdown", pa.string()),
        pa.field("text", pa.string()),
        pa.field("bucket", pa.int32(), nullable=False),
    ]
)


def write_partitioned(rows: list[dict], schema: pa.Schema, path: str, column: str) -> None:
    """One parquet file per ``column=value`` directory under ``path``."""
    import pyarrow.dataset as ds

    table = pa.Table.from_pylist(rows, schema=schema)
    ds.write_dataset(
        table, path, format="parquet", partitioning=[column], partitioning_flavor="hive",
        existing_data_behavior="overwrite_or_ignore",
    )


EDGES_ARROW = pa.schema(
    [
        pa.field("src_host", pa.string(), nullable=False),
        pa.field("dst_host", pa.string(), nullable=False),
        pa.field("n_links", pa.int64(), nullable=False),
    ]
)


def host_graph_rows(seed: int, n_hosts: int, mean_degree: int = 12) -> list[dict]:
    """Skewed-degree host edges: out-degree is heavy-tailed and link targets
    favour low-numbered hosts (preferential attachment shape).  No self
    loops, no repeated (src, dst) pair; some hosts have no out-links."""
    name = [f"h{seed}-{i:05d}.example.net" for i in range(n_hosts)]
    rows = []
    for i in range(n_hosts):
        u = unit(seed, f"deg{i}")
        degree = int(mean_degree * 0.25 / max(1e-3, 1.0 - u) ** 0.5) if u > 0.05 else 0
        seen = set()
        for k in range(min(degree, n_hosts // 4)):
            j = int(n_hosts * unit(seed, f"dst{i}:{k}") ** 2.5)
            if j == i or j in seen:
                continue
            seen.add(j)
            links = 1 + int(8 * unit(seed, f"n{i}:{k}") ** 3)
            rows.append({"src_host": name[i], "dst_host": name[j], "n_links": links})
    return rows


def trusted_seeds(seed: int, n_hosts: int, k: int = 20) -> list[str]:
    picked = sorted({int(n_hosts * unit(seed, f"trust{t}")) for t in range(k)})
    return [f"h{seed}-{i:05d}.example.net" for i in picked]
