"""Durable subscription cursors for classic (partitioned) topics.

The scalable-topic surface already persists per-segment checkpoint
vectors in ``_subscriptions.json`` (sources/scalable.py); classic
topics get the same treatment here with a per-partition NEXT-OFFSET
vector — the mark-delete position of
``pulsar-broker/.../persistent/PersistentSubscription.java`` rendered
as ``{partition: first_unconsumed_offset}``. Replicated subscriptions
(streaming/replicated_subscriptions.py) advance these vectors from
SUBSCRIPTION_UPDATE markers; ordinary consumers advance them by
acknowledging.

Same durability contract as the scalable registry: every write goes
through ``durable.write_atomic``, so a crash mid-write never tears the
JSON; single admin-writer assumption at file granularity.
"""
from __future__ import annotations

import os

from pulsar_spark.durable import read_json, write_atomic

_CURSORS = "_cursors.json"


def _path(topic_path: str) -> str:
    return os.path.join(topic_path, _CURSORS)


def _read(topic_path: str) -> dict:
    return read_json(_path(topic_path), {})


def _write(topic_path: str, subs: dict) -> None:
    write_atomic(_path(topic_path), subs)


def create_subscription(
    topic_path: str,
    subscription: str,
    replicated: bool = False,
    positions: dict[int, int] | None = None,
) -> bool:
    """Persist a subscription with a mark-delete vector (default:
    earliest — the empty vector, every partition reads from 0).
    Idempotent; returns False when it already existed.
    ``replicated=True`` is the ``replicateSubscriptionState`` flag of
    CommandSubscribe (ReplicatedSubscriptionsController.java:224
    creates remote subscriptions with it set)."""
    subs = _read(topic_path)
    if subscription in subs:
        return False
    subs[subscription] = {
        "replicated": bool(replicated),
        "positions": {str(k): int(v) for k, v in (positions or {}).items()},
    }
    _write(topic_path, subs)
    return True


def delete_subscription(topic_path: str, subscription: str) -> bool:
    subs = _read(topic_path)
    if subscription not in subs:
        return False
    del subs[subscription]
    _write(topic_path, subs)
    return True


def list_subscriptions(topic_path: str) -> dict[str, dict]:
    """All persisted subscriptions with int-keyed position vectors."""
    return {
        name: {
            "replicated": bool(e.get("replicated")),
            "positions": {int(k): int(v) for k, v in e.get("positions", {}).items()},
        }
        for name, e in _read(topic_path).items()
    }


def subscription_positions(topic_path: str, subscription: str) -> dict[int, int]:
    subs = _read(topic_path)
    if subscription not in subs:
        raise ValueError(f"no such subscription: {subscription}")
    return {int(k): int(v) for k, v in subs[subscription].get("positions", {}).items()}


def is_replicated(topic_path: str, subscription: str) -> bool:
    subs = _read(topic_path)
    if subscription not in subs:
        raise ValueError(f"no such subscription: {subscription}")
    return bool(subs[subscription].get("replicated"))


def ack_cumulative(
    topic_path: str,
    subscription: str,
    positions: dict[int, int],
    create_replicated: bool = False,
) -> dict[int, int]:
    """Cumulative acknowledgment: per-partition MAX-merge of the new
    next-offset vector into the stored one (a cumulative ack can only
    move a cursor forward — PersistentSubscription.acknowledgeMessage's
    AckType.Cumulative). With ``create_replicated`` a missing
    subscription is created first, like the reference does when a
    SUBSCRIPTION_UPDATE arrives for a subscription that does not exist
    yet (ReplicatedSubscriptionsController.java:219-230). Returns the
    merged vector."""
    subs = _read(topic_path)
    if subscription not in subs:
        if not create_replicated:
            raise ValueError(f"no such subscription: {subscription}")
        subs[subscription] = {"replicated": True, "positions": {}}
    cur = subs[subscription].setdefault("positions", {})
    for p, off in positions.items():
        k = str(int(p))
        cur[k] = max(int(cur.get(k, 0)), int(off))
    _write(topic_path, subs)
    return {int(k): int(v) for k, v in cur.items()}
