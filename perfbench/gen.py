"""Seeded input generator for the benchmark.

Everything graft reads in a run comes from here, and the same seed gives
byte-identical inputs.

`events` reproduces the shape of the engine's sf0.1 test table (the EEG
stand-in where trial = user_id and channel = event_type), scaled down by
a whole factor. Measured on that table with DuckDB and pyarrow:
- 100,000 rows, one row group; `event_id` is 0..n-1 in `ts` order;
- `ts` is parquet TIMESTAMP(MICROS), not adjusted to UTC, every value
  distinct, spread uniformly over the 30 days from 2024-01-01;
- 1,500 distinct `user_id` (0..1499) drawn uniformly: 66.7 rows per user
  on average, standard deviation 8.2, from 45 to 99;
- five `event_type`s drawn uniformly (19,810 to 20,302 rows each);
- `value` is exponential with mean 50 (measured mean 49.9, standard
  deviation 49.6), rounded to 2 decimals, no nulls;
- `props` is `{"k": <0..99>}`, 100 distinct strings.
Scaling rows and users by the same factor keeps the rows per trial, so
every per-trial window sees the same number of rows as at sf0.1.

The raw EEG drops follow the reference's
`MindBigData_Imagenet_<headset>_<synset>_<image>_<take>_<session>.csv`
naming, one `channel,v0,v1,...` line per channel, with one
non-whitelisted channel and one empty value per file so the ingest's
cleaning steps run.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_EVENTS, SF01_USERS = 100_000, 1_500
EVENT_TYPES = ["click", "purchase", "signup", "view", "error"]
CHANNELS = ["AF3", "AF4", "T7", "T8", "Pz"]
HEADSETS = ["EpocX", "Insight"]
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
MONTH_US = 30 * 86400 * 1_000_000


def write_events(path, rng, scale):
    """The sf0.1 events shape with 1/`scale` of its rows and trials."""
    n_rows, n_users = SF01_EVENTS // scale, SF01_USERS // scale
    ts = np.sort(rng.integers(0, MONTH_US, n_rows)) + EPOCH_US
    table = pa.table({
        "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_rows, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_rows)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_rows), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_rows)]),
    })
    pq.write_table(table, path)
    return n_rows


def write_drop(dir_path, rng, n_files, n_samples, synsets, serial):
    """One raw drop: `n_files` CSV files. Returns the rows the ingest keeps
    (whitelisted channels, non-empty values) and, per file, its name,
    synset, image, take, session and kept rows."""
    os.makedirs(dir_path, exist_ok=True)
    kept, files = 0, []
    for f in range(n_files):
        kept_before = kept
        synset = synsets[int(rng.integers(0, len(synsets)))]
        image = int(rng.integers(0, 50))
        name = "MindBigData_Imagenet_%s_%s_%d_%d_%d.csv" % (
            HEADSETS[f % 2], synset, image, serial, f)
        lines = []
        blank = (int(rng.integers(0, len(CHANNELS))), int(rng.integers(0, n_samples)))
        for c, ch in enumerate(CHANNELS + ["XX"]):
            vals = np.round(rng.normal(0.0, 40.0, n_samples), 2)
            cells = ["%.2f" % v for v in vals]
            if c == blank[0]:
                cells[blank[1]] = ""
            if ch != "XX":
                kept += n_samples - (1 if c == blank[0] else 0)
            lines.append(ch + "," + ",".join(cells))
        with open(os.path.join(dir_path, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        files.append((name, synset, image, serial, f, kept - kept_before))
    return kept, files


def synset_ids(rng, n):
    return ["n%08d" % s for s in sorted(rng.choice(10_000_000, n, replace=False) + 10_000_000)]
