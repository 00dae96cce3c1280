"""Seeded input generators for the pipeline benchmark.

Each generator writes only the files the program reads, plus a
`truth` dictionary the output checks compare against (the planted
late rows, verbatim copies and expected counts) and a `traffic`
dictionary that records the properties of what was produced.  The
same seed gives byte-identical files, except the batch load stamp,
which is midnight UTC of the current day: the transform pipeline's
freshness gate fails a load older than 49 h.
"""
import collections
import datetime as dt
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq


def _write_csv(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(header + "\n")
        f.writelines(",".join(map(str, r)) + "\n" for r in rows)


# ── batch_eod: raw daily bars in the year=/month=/day= landing zone ──

def gen_batch(seed, root, n_symbols=500, n_days=252, end=dt.date(2024, 12, 31)):
    rng = random.Random(seed)
    days = []
    d = end
    while len(days) < n_days:
        if d.weekday() < 5:
            days.append(d)
        d -= dt.timedelta(days=1)
    days.reverse()
    symbols = set()
    while len(symbols) < n_symbols:
        symbols.add("".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ")
                            for _ in range(rng.randint(3, 4))))
    symbols = sorted(symbols)
    load_stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%dT00:00:00")
    price = {s: rng.uniform(10, 500) for s in symbols}
    by_day = collections.defaultdict(list)
    n_dirty = n_lower = n_dup = 0
    valid = set()
    for day in days:
        for s in symbols:
            prev = price[s]
            close = prev * math.exp(rng.gauss(0, 0.02))
            open_ = prev * math.exp(rng.gauss(0, 0.005))
            high = max(open_, close) * (1 + abs(rng.gauss(0, 0.01)))
            low = min(open_, close) * (1 - abs(rng.gauss(0, 0.01)))
            price[s] = close
            sym = s
            if rng.random() < 0.05:
                sym = s.lower()
                n_lower += 1
            out_close = round(close, 4)
            if rng.random() < 0.01:
                out_close = -round(rng.uniform(0, 5), 4)
                n_dirty += 1
            else:
                valid.add((s, day))
            row = (sym, day.isoformat(), round(open_, 4), round(high, 4),
                   round(low, 4), out_close, rng.randint(100_000, 10_000_000), load_stamp)
            by_day[day].append(row)
            if rng.random() < 0.01:
                by_day[day].append(row)
                n_dup += 1
    header = ("symbol,date,daily_open,daily_high,daily_low,daily_close,"
              "daily_volume,batch_load_timestamp")
    for day, rows in by_day.items():
        _write_csv(os.path.join(root, f"year={day.year}", f"month={day.month:02d}",
                                f"day={day.day:02d}", "bars.csv"), header, rows)
    n_rows = sum(len(r) for r in by_day.values())
    traffic = {"rows": n_rows, "symbols": n_symbols, "days": n_days,
               "dirty_close_share": n_dirty / n_rows,
               "lower_case_share": n_lower / n_rows,
               "duplicate_share": n_dup / n_rows}
    truth = {"clean_bars": len(valid),
             "trade_dates": len({d for _, d in valid})}
    return n_rows, traffic, truth


# ── tick_drain: one 30-minute tick increment per pass ──

TICK_SYMBOLS = ["AAPL", "GOOGL", "MSFT", "AMZN", "TSLA", "META", "NVDA"]
TICK_T0 = dt.datetime(2024, 6, 3, 13, 30)
PERIOD_S = 1800


def _ts(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def gen_ticks(seed, root, n_increments):
    """Increment i holds the ticks of period i = [T0 + 30i min, +30 min),
    2 s apart per symbol.  Every period repeats one seeded base pattern
    shifted by 30 min, so every drain does the same work and the
    windows of every period are equal up to the shift.  Traffic shape:

    - delayed (out of order, inside the watermark): ~2% of a period's
      ticks from its minutes 20-29 land with the NEXT increment;
    - late (beyond the 30-min watermark): from increment 1 on, ~1% extra
      ticks stamped at minutes 0-14 of period i-2, an odd second so no
      regular tick shares their key.  The previous drain already moved
      the watermark past the end of their 15-min window, so the stream
      must drop every one;
    - shuffled: ~5% of the rows of a file swap with a neighbour.
    """
    rng = random.Random(seed)
    base = []
    for s in TICK_SYMBOLS:
        p = rng.uniform(50, 900)
        for k in range(PERIOD_S // 2):
            p *= math.exp(rng.gauss(0, 0.0005))
            spread = p * abs(rng.gauss(0, 0.0003))
            base.append((s, 2 * k, round(p, 4), round(p - spread, 4),
                         round(p + spread, 4), round(p - 2 * spread, 4),
                         rng.randint(1, 5000)))
    delayed = [1200 <= b[1] < 1740 and rng.random() < 0.07 for b in base]
    late = [b for b in base if b[1] < 900 and rng.random() < 0.02]
    swaps = [rng.random() < 0.05 for _ in range(len(base) + len(late))]

    def rows(period, ticks):
        t = TICK_T0 + dt.timedelta(seconds=period * PERIOD_S)
        return [(s, _ts(t + dt.timedelta(seconds=o)), *rest) for s, o, *rest in ticks]

    header = "symbol,timestamp,price,open,high,low,volume"
    late_keys = []
    n_rows = []
    for i in range(n_increments):
        # the first increment carries the previous period too, so that
        # every drain, the cold one included, closes complete windows
        out = rows(-1, [b for b, d in zip(base, delayed) if not d]) if i == 0 else []
        out += rows(i, [b for b, d in zip(base, delayed) if not d])
        out += rows(i - 1, [b for b, d in zip(base, delayed) if d])
        if i >= 1:
            lr = rows(i - 2, [(s, o + 1, *rest) for s, o, *rest in late])
            late_keys += [(r[0], r[1]) for r in lr]
            out += lr
        for j in range(len(out) - 1):
            if swaps[j % len(swaps)]:
                out[j], out[j + 1] = out[j + 1], out[j]
        _write_csv(os.path.join(root, f"ticks-{i:04d}.csv"), header, out)
        n_rows.append(len(out))
    with open(os.path.join(root, "late.csv"), "w") as f:
        f.write("symbol,timestamp\n")
        f.writelines(f"{s},{t}\n" for s, t in late_keys)
    traffic = {"rows_per_increment": n_rows[-1], "symbols": len(TICK_SYMBOLS),
               "increment_minutes": PERIOD_S // 60, "tick_seconds": 2,
               "delayed_share": sum(delayed) / n_rows[-1],
               "late_share": len(late) / n_rows[-1],
               "swapped_share": sum(swaps) / len(swaps)}
    truth = {"period_s": PERIOD_S, "t0": _ts(TICK_T0)}
    return n_rows[-1], traffic, truth


# ── corpus_curation: documents, planted near-duplicates, an eval set ──

# The word list and label mix of the shipped sf0.1 documents table, whose
# quality and language gates this corpus is shaped to exercise alike.
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14)]


def gen_corpus(seed, docs_path, eval_path, n_docs=5000, n_clusters=250,
               n_eval=50):
    rng = random.Random(seed)

    def text(n):
        return " ".join(rng.choice(VOCAB) for _ in range(n))

    def perturb(t, share):
        w = t.split()
        for j in rng.sample(range(len(w)), max(1, int(len(w) * share))):
            w[j] = rng.choice(VOCAB)
        return " ".join(w)

    labels, weights = zip(*LANGS)
    docs = [{"doc_id": i, "text": text(rng.randint(8, 100)),
             "lang": rng.choices(labels, weights)[0], "source": f"src{i % 10}"}
            for i in range(n_docs)]
    # near-dup clusters grow from long English docs, the ones the quality
    # gate keeps, so that the dedup stage (not the filter) removes them
    hosts = rng.sample([d for d in docs if d["lang"] == "en"
                        and len(d["text"].split()) >= 80], n_clusters)
    verbatim_ids, sizes = [], collections.Counter()
    next_id = n_docs
    for h in hosts:
        k = rng.randint(1, 3)
        sizes[k + 1] += 1
        for _ in range(k):
            exact = rng.random() < 0.5
            docs.append({"doc_id": next_id, "lang": h["lang"], "source": h["source"],
                         "text": h["text"] if exact else perturb(h["text"], 0.1)})
            if exact:
                verbatim_ids.append(next_id)
            next_id += 1
    rng.shuffle(docs)
    for d in docs:
        d["n_chars"] = len(d["text"])
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    pq.write_table(pa.table({c: [d[c] for d in docs] for c in cols}), docs_path)
    picks = rng.sample(hosts, n_eval)
    eval_verbatim = [h["text"] for h in picks[: n_eval // 2]]
    eval_texts = eval_verbatim + [perturb(h["text"], 0.2) for h in picks[n_eval // 2:]]
    pq.write_table(pa.table({"text": eval_texts}), eval_path)
    traffic = {"docs": len(docs), "base_docs": n_docs,
               "near_dup_share": (len(docs) - n_docs) / len(docs),
               "verbatim_copies": len(verbatim_ids),
               "cluster_sizes": {str(k): v for k, v in sorted(sizes.items())},
               "eval_verbatim": len(eval_verbatim),
               "eval_perturbed": n_eval - len(eval_verbatim)}
    truth = {"verbatim_copy_ids": sorted(verbatim_ids)}
    return len(docs), traffic, truth
