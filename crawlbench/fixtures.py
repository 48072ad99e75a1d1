"""Synthetic-web fixtures, staged once per (seed, generator parameters).

The web comes from `html_synth.synth_web`; the reference answer from
`refspec.simulate_crawl`, the package's single-threaded Python model of
the crawl. Both are written with pyarrow (no Spark), so the fixture does
not depend on the engine under test:

    <tag>/pages/part-NNN.parquet  url, warc_ts, html, text, lang
    <tag>/seeds.parquet           url, source_id, parser_class, priority

`text` is the reference content of every page the reference crawl
stores (titled article pages reached from a list page) and null for all
other pages. The tag follows tools/submit_crawl.py's fixture directories
(`n<docs>_h<hosts>_hot<frac>[_x<frac>]`) plus the seed.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

N_PAGE_FILES = 16


def tag(n_articles: int, n_hosts: int, hot_frac: float,
        cross_cite_frac: float, seed: int) -> str:
    t = f"n{n_articles * 10}_h{n_hosts}_hot{hot_frac:.2f}"
    if cross_cite_frac:
        t += f"_x{cross_cite_frac:.2f}"
    return f"{t}_seed{seed}"


def stage(root: str, n_articles: int, n_hosts: int, hot_frac: float,
          cross_cite_frac: float, seed: int) -> tuple:
    """Return (fixture dir, seconds spent building it; 0.0 if it was
    already staged). Built into a temporary directory and renamed, so an
    interrupted build never leaves a fixture that looks complete."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from web_crawler_spark import html_synth, refspec

    final = os.path.join(root, tag(n_articles, n_hosts, hot_frac,
                                   cross_cite_frac, seed))
    if os.path.isdir(final):
        return final, 0.0
    t0 = time.perf_counter()
    web = html_synth.synth_web(n_articles=n_articles, n_hosts=n_hosts,
                               seed=seed, hot_frac=hot_frac,
                               cross_cite_frac=cross_cite_frac)
    ref = refspec.simulate_crawl(web["pages"], web["seeds"])
    text = {a["url"]: a["content"] for a in ref["articles"]}
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "pages"))
    urls = sorted(web["pages"])
    ts0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    for i in range(N_PAGE_FILES):
        part = urls[i * len(urls) // N_PAGE_FILES:
                    (i + 1) * len(urls) // N_PAGE_FILES]
        start = i * len(urls) // N_PAGE_FILES
        pq.write_table(pa.table({
            "url": part,
            "warc_ts": [ts0 + dt.timedelta(seconds=start + j)
                        for j in range(len(part))],
            "html": [web["pages"][u] for u in part],
            "text": [text.get(u) for u in part],
            "lang": ["en"] * len(part)}, schema=schema),
            os.path.join(tmp, "pages", f"part-{i:03d}.parquet"))
    seeds = web["seeds"]
    pq.write_table(pa.table({
        "url": [u for u, _, _ in seeds],
        "source_id": pa.array([s for _, s, _ in seeds], pa.int64()),
        "parser_class": [p for _, _, p in seeds],
        "priority": pa.array(range(len(seeds)), pa.int32())}),
        os.path.join(tmp, "seeds.parquet"))
    os.replace(tmp, final)
    return final, time.perf_counter() - t0
