"""Seeded inputs and planted truth for the benchmark workloads.

Every input is a pure function of (workload, seed, scale): the engine sees
only the parquet files written here, never the seed or the truth.

* ``events_dedup`` — an ``events`` table with the distribution of the
  shared sf0.1 test table (uniform users, five event types, one ``{"k": n}``
  prop with 100 values), pushed through the transcript derivation of the
  oracle-checked queries, ``__spark_entry__.derive_transcripts``. Every 5th
  user's conversations get an exact ``_dup`` twin and every 5th+1 a ``_nd``
  near twin (one perturbed turn). Low-entropy text: LSH yields many candidates, few edges.
* ``stream_drops`` / fixtures — ``translink.fixtures.generate``: high-entropy
  text with planted exact groups, near duplicates and confusables. The
  hot-key group is left out because ``recluster_incremental`` only promises
  batch-identical labels when no block overflows ``max_block_size``.
"""

from __future__ import annotations

import random
from collections import Counter

import numpy as np
import pandas as pd

#: events per user in the sf0.1 ``events`` table (100k events, 1,500 users)
EVENTS_PER_USER = 66.7
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
EVENT_SPAN_US = 30 * 86_400 * 10**6
EVENT_T0 = pd.Timestamp("2024-01-01")


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    """Write ``pdf`` as one parquet file with microsecond timestamps (Spark
    rejects pandas' nanosecond default)."""
    pdf.to_parquet(path, index=False, coerce_timestamps="us",
                   allow_truncated_timestamps=True)


def make_events(n_users: int, seed: int) -> pd.DataFrame:
    """An ``events`` table shaped like the sf0.1 one, ``n_users`` users.

    Unlike sf0.1, every user's event count is a whole number of
    conversations (``TURNS_PER_CONV`` events each) and the total is fixed:
    a short remainder conversation of one or two events would otherwise
    equal another user's by chance, which the planted truth cannot know,
    and the input size would vary with the seed."""
    from __spark_entry__ import TURNS_PER_CONV

    rng = np.random.default_rng(seed)
    n_convs = round(n_users * EVENTS_PER_USER / TURNS_PER_CONV)
    per_user = rng.multinomial(n_convs, [1 / n_users] * n_users)
    users = np.repeat(np.arange(n_users, dtype="int64"),
                      per_user * TURNS_PER_CONV)
    rng.shuffle(users)
    n = len(users)
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": EVENT_T0 + pd.to_timedelta(ts, unit="us"),
        "user_id": users,
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    })


def events_transcripts(spark, events_dir: str, out_path: str) -> None:
    """Derive transcripts from ``events_dir/events.parquet`` with the
    oracle queries' derivation and write them to ``out_path``."""
    from __spark_entry__ import derive_transcripts

    (derive_transcripts(spark, events_dir)
     .coalesce(1).write.mode("overwrite").parquet(out_path))


def events_truth(conv_ids) -> dict[str, str]:
    """Planted entity per conversation: a ``_dup``/``_nd`` twin belongs to
    its base conversation, everything else is its own entity."""
    truth = {}
    for c in conv_ids:
        base = c
        for suffix in ("_dup", "_nd"):
            if c.endswith(suffix):
                base = c[: -len(suffix)]
        truth[c] = base
    return truth


def fixture_corpus(n_base: int, seed: int):
    """Fixture transcripts built from ``n_base`` base conversations (the
    ``translink.fixtures`` population mix), without the hot-key group, plus
    planted truth (conv_id -> entity)."""
    from translink import fixtures

    # generate() sizes a corpus by profile name only: register this size
    profile = f"perfbench_{n_base}"
    fixtures.PROFILE_SIZES.setdefault(profile, n_base)
    d = fixtures.generate(profile, seed=seed)
    t = d["transcripts"]
    t = t[~t["conv_id"].str.startswith("hot_")].reset_index(drop=True)
    ec = d["expected_clusters"]
    ec = ec[~ec["conv_id"].str.startswith("hot_")]
    return t, dict(zip(ec["conv_id"], ec["cluster_id"]))


def split_drops(conv_rows: dict[str, int], n_drops: int, drop_rows: int,
                seed: int):
    """Seeded split of conversations into a base corpus and ``n_drops``
    drops of new conversations holding exactly ``drop_rows`` turn rows each
    (a fixed row budget keeps per-drop work and ``rows_per_s`` alike across
    seeds). Each drop is the first subset of the shuffled conversations,
    by a subset-sum scan, whose turn rows add up to the budget. Planted
    groups split freely, so drops carry twins of base conversations
    (new-old edges)."""
    ids = sorted(conv_rows)
    random.Random(seed).shuffle(ids)
    drops = []
    for _ in range(n_drops):
        # reach[r]: conversations, earliest first, holding r turn rows
        reach: list[list[str] | None] = [[]] + [None] * drop_rows
        for c in ids:
            n = conv_rows[c]
            for r in range(drop_rows - n, -1, -1):
                if reach[r] is not None and reach[r + n] is None:
                    reach[r + n] = reach[r] + [c]
            if reach[drop_rows] is not None:
                break
        drop = reach[drop_rows]
        if drop is None:
            raise ValueError(f"cannot fill a drop with exactly {drop_rows} "
                             "turn rows")
        taken = set(drop)
        ids = [c for c in ids if c not in taken]
        drops.append(drop)
    return set(ids), drops


def pair_prf(labels: dict[str, str], truth: dict[str, str]):
    """Pairwise (precision, recall, F1) of predicted clusters against
    planted entities, over the conversations in ``truth``. A conversation
    missing from ``labels`` counts as a singleton."""
    pred = {c: labels.get(c, c) for c in truth}

    def _pairs(counter: Counter) -> int:
        return sum(n * (n - 1) // 2 for n in counter.values())

    tp = _pairs(Counter((pred[c], truth[c]) for c in truth))
    pp = _pairs(Counter(pred.values()))
    tt = _pairs(Counter(truth.values()))
    precision = tp / pp if pp else 1.0
    recall = tp / tt if tt else 1.0
    if precision + recall == 0:
        return precision, recall, 0.0
    return precision, recall, 2 * precision * recall / (precision + recall)
