"""Durable subscription cursors for classic (partitioned) topics.

A classic subscription is an entry of the topic's subscription
registry under the same cursor rules as scalable topics
(sources/scalable.py); each function here is a thin call on them. Its
cursor is a NEXT-OFFSET vector over the ``partition`` lane — the
mark-delete position of
``pulsar-broker/.../persistent/PersistentSubscription.java`` rendered
as ``{partition: first_unconsumed_offset}``. Replicated subscriptions
(streaming/replicated_subscriptions.py) advance these vectors from
SUBSCRIPTION_UPDATE markers; ordinary consumers advance them by
acknowledging. A classic cursor is never a LATEST sentinel, so no call
here needs a SparkSession or runs a Spark job.
"""
from __future__ import annotations

from pulsar_spark.sources import scalable


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
    return scalable._add_subscription(
        topic_path, subscription, scalable._classic_entry(replicated, positions)
    )


def delete_subscription(topic_path: str, subscription: str) -> bool:
    return scalable.delete_subscription(topic_path, subscription)


def list_subscriptions(topic_path: str) -> dict[str, dict]:
    """All persisted subscriptions with int-keyed position vectors."""
    return {
        name: {
            "replicated": bool(e.get("replicated")),
            "positions": scalable._entry_cursor(e)[0].offsets,
        }
        for name, e in scalable._read_subscriptions(topic_path).items()
    }


def subscription_positions(topic_path: str, subscription: str) -> dict[int, int]:
    return scalable.subscription_checkpoint(topic_path, subscription).offsets


def is_replicated(topic_path: str, subscription: str) -> bool:
    return bool(scalable._entry(topic_path, subscription).get("replicated"))


def ack_cumulative(
    topic_path: str,
    subscription: str,
    positions: dict[int, int],
    create_replicated: bool = False,
) -> dict[int, int]:
    """Cumulative acknowledgment: per-partition MAX-merge of the new
    next-offset vector into the stored one (``_acked``: a cumulative
    ack can only move a cursor forward — PersistentSubscription
    .acknowledgeMessage's AckType.Cumulative). With
    ``create_replicated`` a missing subscription is created first, in
    the same atomic write, like the reference does when a
    SUBSCRIPTION_UPDATE arrives for a subscription that does not exist
    yet (ReplicatedSubscriptionsController.java:219-230). Returns the
    merged vector."""
    moved = scalable._edit_cursors(
        topic_path,
        lambda ck, holes: scalable._acked(ck, positions, holes),
        [subscription],
        create=scalable._classic_entry(True) if create_replicated else None,
    )
    return moved[subscription].offsets
