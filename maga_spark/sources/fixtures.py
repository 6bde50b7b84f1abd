"""Deterministic crawl-fixture generator (FIXTURES.md).

Writes the synthetic closed-universe web graph + payload tables as parquet
(pyarrow directly — no Spark dependency, so the simulator and the engine read
the *same* bytes). Everything is a pure function of (scale, xxh64) — no
wall-clock, no os.urandom (SURVEY.md §7.6; reference randomness at
maga/utils.py:14-15 replaced by hash-derived values).

Tables:
  images(image_id, bytes, w, h, fmt, caption, phash)      -- input_hint shape
  images_truth(image_id, px_npy)                          -- PSNR ground truth
  seeds(url, host)                                        -- raw (non-canonical) seed URLs
  links(url_canon, out_links: list<string>, image_id)     -- the web graph; out_links raw
  robots(host, disallow_prefix)
  politeness(host, rate_per_epoch, burst)
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from maga_spark import codec
from maga_spark.xxh64 import xxh64

HOT_HOSTS = 2  # two hosts own ~50% of URLs — forces skew handling (FIXTURES.md §3)


def _h(s: str) -> int:
    return xxh64(s.encode("utf-8"))


def n_hosts(n_urls: int) -> int:
    return max(8, n_urls // 128)


def host_idx_of(i: int, nh: int) -> int:
    """Skewed host assignment: h0 ≈ 30%, h1 ≈ 20%, rest uniform."""
    z = _h(f"host:{i}") % 10
    if z <= 2:
        return 0
    if z <= 4:
        return 1
    return 2 + (_h(f"host2:{i}") % (nh - 2))


def canon_url(i: int, nh: int) -> str:
    return f"http://h{host_idx_of(i, nh)}.test/p/{i}"


def raw_variant(i: int, k: int, nh: int) -> str:
    """A non-canonical spelling of URL i (exercises canonicalization)."""
    j = host_idx_of(i, nh)
    v = _h(f"var:{i}:{k}") % 4
    if v == 0:
        return f"http://h{j}.test/p/{i}"
    if v == 1:
        return f"http://H{j}.TEST/p/{i}"
    if v == 2:
        return f"http://h{j}.test/p/{i}/"
    return f"http://h{j}.test:80/p/{i}"


def _write_images(out_dir: str, n_images: int, sizes: tuple[int, int, int]) -> None:
    """images + images_truth (the payload layer per input_hint); both
    generators write these same bytes."""
    img_rows = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")}
    truth_rows = {"image_id": [], "px_npy": []}
    for m in range(n_images):
        iid = f"im{m:06d}"
        w = sizes[_h(f"w:{iid}") % 3]
        h = sizes[_h(f"h:{iid}") % 3]
        fmt = codec.FORMATS[_h(f"fmt:{iid}") % 3]
        px = codec.gen_pixels(iid, w, h)
        img_rows["image_id"].append(iid)
        img_rows["bytes"].append(codec.encode(px, fmt))
        img_rows["w"].append(w)
        img_rows["h"].append(h)
        img_rows["fmt"].append(fmt)
        img_rows["caption"].append(f"img {iid} {w}x{h} {fmt}")
        img_rows["phash"].append(codec.phash64(px))
        truth_rows["image_id"].append(iid)
        truth_rows["px_npy"].append(px.tobytes())
    pq.write_table(
        pa.table(
            {
                "image_id": pa.array(img_rows["image_id"], pa.string()),
                "bytes": pa.array(img_rows["bytes"], pa.binary()),
                "w": pa.array(img_rows["w"], pa.int32()),
                "h": pa.array(img_rows["h"], pa.int32()),
                "fmt": pa.array(img_rows["fmt"], pa.string()),
                "caption": pa.array(img_rows["caption"], pa.string()),
                "phash": pa.array(img_rows["phash"], pa.int64()),
            }
        ),
        f"{out_dir}/images.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "image_id": pa.array(truth_rows["image_id"], pa.string()),
                "px_npy": pa.array(truth_rows["px_npy"], pa.binary()),
            }
        ),
        f"{out_dir}/images_truth.parquet",
    )


def generate(
    out_dir: str,
    n_urls: int = 1000,
    n_seeds: int = 16,
    n_images: int | None = None,
    rate_boost: int = 1,
    sizes: tuple[int, int, int] = (16, 24, 32),
) -> dict:
    """Generate all fixture tables into ``out_dir``; returns summary dict.

    ``rate_boost`` scales every politeness budget — bench fixtures use >1 so
    epochs carry enough grants to amortize the per-epoch round-trip."""
    os.makedirs(out_dir, exist_ok=True)
    nh = n_hosts(n_urls)
    n_images = n_images or min(n_urls, 512)

    _write_images(out_dir, n_images, sizes)

    # --- links: the closed web graph (fan-out 0..8, hash-derived) ---
    url_canon, out_links, image_ids = [], [], []
    for i in range(n_urls):
        url_canon.append(canon_url(i, nh))
        fan = _h(f"fan:{i}") % 9
        outs = []
        for k in range(fan):
            j = _h(f"lnk:{i}:{k}") % n_urls
            outs.append(raw_variant(j, k, nh))
        out_links.append(outs)
        image_ids.append(f"im{i % n_images:06d}")
    pq.write_table(
        pa.table(
            {
                "url_canon": pa.array(url_canon, pa.string()),
                "out_links": pa.array(out_links, pa.list_(pa.string())),
                "image_id": pa.array(image_ids, pa.string()),
            }
        ),
        f"{out_dir}/links.parquet",
    )

    # --- seeds: raw variants of the first n_seeds URL ids ---
    seed_urls = [raw_variant(i, 999, nh) for i in range(n_seeds)]
    seed_hosts = [f"h{host_idx_of(i, nh)}.test" for i in range(n_seeds)]
    pq.write_table(
        pa.table({"url": pa.array(seed_urls, pa.string()), "host": pa.array(seed_hosts, pa.string())}),
        f"{out_dir}/seeds.parquet",
    )

    # --- robots: ~10% of hosts disallow one prefix; host 2 always does so
    # the gate is exercised even at tiny host counts ---
    r_hosts, r_prefix = [], []
    for j in range(nh):
        if j == 2 or _h(f"robots:{j}") % 10 == 0:
            r_hosts.append(f"h{j}.test")
            r_prefix.append(f"/p/{_h(f'rprefix:{j}') % 10}")
    pq.write_table(
        pa.table(
            {"host": pa.array(r_hosts, pa.string()), "disallow_prefix": pa.array(r_prefix, pa.string())}
        ),
        f"{out_dir}/robots.parquet",
    )

    # --- politeness: hot hosts get bigger (but still binding) budgets ---
    p_hosts, p_rate, p_burst = [], [], []
    for j in range(nh):
        if j == 0:
            rate = 16
        elif j == 1:
            rate = 8
        else:
            rate = 1 + _h(f"rate:{j}") % 4
        rate *= rate_boost
        p_hosts.append(f"h{j}.test")
        p_rate.append(rate)
        p_burst.append(rate * 2)
    pq.write_table(
        pa.table(
            {
                "host": pa.array(p_hosts, pa.string()),
                "rate_per_epoch": pa.array(p_rate, pa.int32()),
                "burst": pa.array(p_burst, pa.int32()),
            }
        ),
        f"{out_dir}/politeness.parquet",
    )

    return {"n_urls": n_urls, "n_hosts": nh, "n_images": n_images, "n_seeds": n_seeds, "n_robots": len(r_hosts)}


# ---------------------------------------------------------------------------
# Spark-side generator — same table shapes, vectorized for bench-scale
# universes (10^7+ URLs) that the pure-Python generator can't build quickly.
# Deterministic: every value is a pure function of (i, xxhash64). The graph
# differs from the Python generator's (signed vs unsigned modulo) — golden
# parity fixtures always use `generate`; `generate_spark` feeds benchmarks.
# ---------------------------------------------------------------------------


def generate_spark(
    spark,
    out_dir: str,
    n_urls: int,
    n_seeds: int = 1024,
    n_images: int = 2048,
    rate_boost: int = 1,
    sizes: tuple[int, int, int] = (16, 24, 32),
) -> dict:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    nh = n_hosts(n_urls)

    # images + truth reuse the (small) python path — payload count is fixed
    _write_images(out_dir, n_images, sizes)

    def hx(*cols):
        return F.xxhash64(F.concat(*cols))

    istr = F.col("i").cast("string")

    def host_idx(i_str):
        z = F.pmod(hx(F.lit("host:"), i_str), F.lit(10))
        z2 = F.pmod(hx(F.lit("host2:"), i_str), F.lit(nh - 2))
        return (
            F.when(z <= 2, F.lit(0)).when(z <= 4, F.lit(1)).otherwise(F.lit(2) + z2)
        ).cast("int")

    def canon(i_str):
        return F.concat(F.lit("http://h"), host_idx(i_str).cast("string"), F.lit(".test/p/"), i_str)

    def raw_var(i_str, k_str):
        j = host_idx(i_str).cast("string")
        v = F.pmod(hx(F.lit("var:"), i_str, F.lit(":"), k_str), F.lit(4))
        return (
            F.when(v == 0, F.concat(F.lit("http://h"), j, F.lit(".test/p/"), i_str))
            .when(v == 1, F.concat(F.lit("http://H"), j, F.lit(".TEST/p/"), i_str))
            .when(v == 2, F.concat(F.lit("http://h"), j, F.lit(".test/p/"), i_str, F.lit("/")))
            .otherwise(F.concat(F.lit("http://h"), j, F.lit(".test:80/p/"), i_str))
        )

    base = spark.range(n_urls).select(F.col("id").alias("i"))
    fan = F.pmod(hx(F.lit("fan:"), istr), F.lit(9))
    links = base.select(
        canon(istr).alias("url_canon"),
        F.transform(
            F.when(fan > 0, F.sequence(F.lit(0), fan - 1)).otherwise(
                F.array().cast("array<int>")
            ),
            lambda k: raw_var(
                F.pmod(hx(F.lit("lnk:"), istr, F.lit(":"), k.cast("string")), F.lit(n_urls)).cast(
                    "string"
                ),
                k.cast("string"),
            ),
        ).alias("out_links"),
        F.concat(
            F.lit("im"), F.lpad(F.pmod(F.col("i"), F.lit(n_images)).cast("string"), 6, "0")
        ).alias("image_id"),
    )
    links.write.mode("overwrite").parquet(f"{out_dir}/links.parquet")

    seeds = (
        spark.range(n_seeds)
        .select(F.col("id").alias("i"))
        .select(
            raw_var(istr, F.lit("999")).alias("url"),
            F.concat(F.lit("h"), host_idx(istr).cast("string"), F.lit(".test")).alias("host"),
        )
    )
    seeds.write.mode("overwrite").parquet(f"{out_dir}/seeds.parquet")

    hosts = spark.range(nh).select(F.col("id").alias("j"))
    jstr = F.col("j").cast("string")
    robots = hosts.filter(
        (F.col("j") == 2) | (F.pmod(hx(F.lit("robots:"), jstr), F.lit(10)) == 0)
    ).select(
        F.concat(F.lit("h"), jstr, F.lit(".test")).alias("host"),
        F.concat(
            F.lit("/p/"), F.pmod(hx(F.lit("rprefix:"), jstr), F.lit(10)).cast("string")
        ).alias("disallow_prefix"),
    )
    robots.write.mode("overwrite").parquet(f"{out_dir}/robots.parquet")

    rate = (
        F.when(F.col("j") == 0, F.lit(16))
        .when(F.col("j") == 1, F.lit(8))
        .otherwise(F.lit(1) + F.pmod(hx(F.lit("rate:"), jstr), F.lit(4)))
        * rate_boost
    ).cast("int")
    politeness = hosts.select(
        F.concat(F.lit("h"), jstr, F.lit(".test")).alias("host"),
        rate.alias("rate_per_epoch"),
        (rate * 2).cast("int").alias("burst"),
    )
    politeness.write.mode("overwrite").parquet(f"{out_dir}/politeness.parquet")
    return {"n_urls": n_urls, "n_hosts": nh, "n_images": n_images, "n_seeds": n_seeds}
