"""Thin CLI over the engine API — the `pulsar-client produce/consume/read`
analog (pulsar-client-tools/.../cli/CmdProduce.java:88, CmdConsume.java:56,
CmdRead.java:54). The CLI is deliberately a shim: every subcommand is a
few lines over the same DataFrame operators the library exposes.

  python -m pulsar_spark produce <topic_path> --input f.parquet --key-col k
  python -m pulsar_spark read    <topic_path> [--from-offset N] [--from-time TS] [-n N]
  python -m pulsar_spark create  <topic_path> [--partitions N]
  python -m pulsar_spark consume <topic_path> -n 10       (peek past cursor 0)
  python -m pulsar_spark stats   <topic_path>
  python -m pulsar_spark compact <topic_path> [--event-time-order]
  python -m pulsar_spark truncate <topic_path>
  python -m pulsar_spark last    <topic_path>
  python -m pulsar_spark offload <topic_path> --cold <path> --before TS [--from-policy]
  python -m pulsar_spark skip    <topic_path> -n N [--from-offset N]
  python -m pulsar_spark update-partitions <topic_path> --partitions N
  python -m pulsar_spark create-scalable  <topic_path> [--segments N]
  python -m pulsar_spark split-segment    <topic_path> --segment ID
  python -m pulsar_spark merge-segments   <topic_path> --segments ID1 ID2
  python -m pulsar_spark scalable-stats   <topic_path>
  python -m pulsar_spark consume-namespace <namespace_dir> [--checkpoint F] [--limit N]
  python -m pulsar_spark autoscale        <topic_path> [--window S] [--apply]
  python -m pulsar_spark curate <docs.parquet> --out DIR [--seq-len N] [--shards N]
  python -m pulsar_spark decrypt <topic_path> --key-name K --private-key PEM
      [--on-failure fail|discard|consume] [--retry-key K2 --retry-private-key PEM2]
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pulsar_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_prod = sub.add_parser("produce", help="append rows from a file to a topic")
    p_prod.add_argument("topic")
    p_prod.add_argument("--input", required=True, help="parquet/json/csv input path")
    p_prod.add_argument("--format", default="parquet")
    p_prod.add_argument("--key-col", default=None)
    p_prod.add_argument("--num-partitions", type=int, default=None)  # sidecar/8 fallback
    p_prod.add_argument("--producer-name", default="cli-producer")

    p_read = sub.add_parser("read", help="scan a topic from an offset/timestamp")
    p_read.add_argument("topic")
    p_read.add_argument("--from-offset", type=int, default=None)
    p_read.add_argument("--from-time", default=None)
    p_read.add_argument("--to-offset", type=int, default=None)
    p_read.add_argument("--to-time", default=None)
    p_read.add_argument("-n", "--limit", type=int, default=20)

    p_cons = sub.add_parser("consume", help="peek the next N messages per partition")
    p_cons.add_argument("topic")
    p_cons.add_argument("-n", "--limit", type=int, default=10)

    p_stat = sub.add_parser("stats", help="per-topic stats rollup")
    p_stat.add_argument("topic")

    p_comp = sub.add_parser("compact", help="run the compaction maintenance job")
    p_comp.add_argument("topic")
    p_comp.add_argument("--event-time-order", action="store_true")

    p_create = sub.add_parser("create", help="create a partitioned topic (metadata sidecar)")
    p_create.add_argument("topic")
    p_create.add_argument("--partitions", type=int, default=8)

    p_trunc = sub.add_parser("truncate", help="drop stored data, keep the topic")
    p_trunc.add_argument("topic")

    p_last = sub.add_parser("last", help="highest (partition, offset) per partition")
    p_last.add_argument("topic")

    p_off = sub.add_parser("offload", help="move rows older than a cutoff to the cold tier")
    p_off.add_argument("topic")
    p_off.add_argument("--cold", default=None, help="cold-tier directory")
    p_off.add_argument("--before", default=None, help="offload rows with publish_time < TS")
    p_off.add_argument(
        "--from-policy", action="store_true",
        help="enforce the STORED offload_policies instead of --cold/--before "
             "(Namespaces.setOffloadPolicies); --before then supplies 'now'",
    )

    p_dec = sub.add_parser(
        "decrypt",
        help="consumer-side decrypt of an encrypted topic, with per-row "
        "ConsumerCryptoFailureAction and an optional late-key retry pass",
    )
    p_dec.add_argument("topic")
    p_dec.add_argument("--key-name", required=True, help="consumer key name")
    p_dec.add_argument("--private-key", required=True,
                       help="RSA private key PEM file for --key-name")
    p_dec.add_argument(
        "--on-failure", choices=["fail", "discard", "consume"], default="fail",
        help="ConsumerCryptoFailureAction for undecryptable rows: fail = "
        "stall loudly (default), discard = drop, consume = deliver the "
        "encrypted payload flagged crypto_failure=true",
    )
    p_dec.add_argument(
        "--retry-key", default=None,
        help="second consumer key name: rows the first pass flagged are "
        "retried under this key (the decrypt_failed_rows recovery flow "
        "after a delayed key delivery)",
    )
    p_dec.add_argument("--retry-private-key", default=None,
                       help="RSA private key PEM file for --retry-key")
    p_dec.add_argument("--out", default=None,
                       help="write the decrypted frame as parquet here "
                       "instead of printing rows")
    p_dec.add_argument("-n", "--limit", type=int, default=20)

    p_skip = sub.add_parser("skip", help="admin skipMessages: cursor past the next N messages")
    p_skip.add_argument("topic")
    p_skip.add_argument("-n", "--count", type=int, required=True)
    p_skip.add_argument("--from-offset", type=int, default=0)

    p_upd = sub.add_parser(
        "update-partitions", help="grow a partitioned topic (updatePartitionedTopic)"
    )
    p_upd.add_argument("topic")
    p_upd.add_argument("--partitions", type=int, required=True)

    # scalable topics (CmdScalableTopics analog)
    p_screate = sub.add_parser("create-scalable", help="create a scalable topic")
    p_screate.add_argument("topic")
    p_screate.add_argument("--segments", type=int, default=2)

    p_split = sub.add_parser("split-segment", help="seal a segment into two children")
    p_split.add_argument("topic")
    p_split.add_argument("--segment", type=int, required=True)

    p_merge = sub.add_parser("merge-segments", help="fuse two adjacent active segments")
    p_merge.add_argument("topic")
    p_merge.add_argument("--segments", type=int, nargs=2, required=True)

    p_sstat = sub.add_parser("scalable-stats", help="per-segment range/state/counts")
    p_sstat.add_argument("topic")

    p_ns = sub.add_parser(
        "consume-namespace",
        help="multi-topic scalable consume from a combined checkpoint",
    )
    p_ns.add_argument("namespace")
    p_ns.add_argument("--checkpoint", help="path to the stored MultiCheckpoint bytes")
    p_ns.add_argument("--limit", type=int, default=10)

    p_cur = sub.add_parser(
        "curate",
        help="corpus parquet -> packed trainer shards (gopher gate, "
        "trained quality gate, temperature mix, shuffle, pack)",
    )
    p_cur.add_argument("input", help="documents parquet (doc_id, text, source, n_chars)")
    p_cur.add_argument("--out", required=True, help="output dir for shard parquet")
    p_cur.add_argument("--seq-len", type=int, default=512)
    p_cur.add_argument("--shards", type=int, default=8)
    p_cur.add_argument("--total-rows", type=int, default=1000)
    p_cur.add_argument("--temperature", type=float, default=2.0)
    p_cur.add_argument("--seed", type=int, default=17)
    p_cur.add_argument(
        "--label-chars",
        type=int,
        default=400,
        help="n_chars threshold used as the classifier's training label",
    )
    p_cur.add_argument(
        "--shuffle-seed",
        type=int,
        default=None,
        help="shard-shuffle seed; defaults to seed+2 — MUST differ from "
        "--seed or shard order degenerates to the sampling hash",
    )
    p_cur.add_argument(
        "--key-name", default=None,
        help="input is an ENCRYPTED corpus (doc_id, source, encrypted "
        "payload = UTF-8 text): decrypt with this consumer key before "
        "curating",
    )
    p_cur.add_argument("--private-key", default=None,
                       help="RSA private key PEM file for --key-name")
    p_cur.add_argument(
        "--on-failure", choices=["fail", "discard", "consume"],
        default="consume",
        help="ConsumerCryptoFailureAction for undecryptable corpus rows "
        "(default consume: flagged rows are excluded from curation and "
        "counted — or quarantined — rather than poisoning the shards)",
    )
    p_cur.add_argument(
        "--quarantine", default=None,
        help="consume mode: write still-encrypted flagged rows here (their "
        "encryption context intact for a later retry) instead of only "
        "counting them",
    )

    p_sub = sub.add_parser(
        "subscription",
        help="scalable-subscription admin: create/delete/list/backlog/"
        "clear-backlog/seek (ScalableTopicController verbs)",
    )
    p_sub.add_argument("topic")
    p_sub.add_argument(
        "verb",
        choices=["create", "delete", "list", "backlog", "clear-backlog", "seek",
                 "ack", "holes"],
    )
    p_sub.add_argument("--name", help="subscription name (all verbs except list)")
    p_sub.add_argument("--timestamp", help="seek target, e.g. '2026-01-01 00:00:00'")
    p_sub.add_argument(
        "--ids",
        help="ack: comma-separated segment:offset message ids, e.g. '0:5,0:7,1:3'",
    )

    p_seg = sub.add_parser(
        "segment",
        help="per-segment admin (ScalableTopics.java:354-:454): "
        "create/terminate/delete a segment, and the per-segment "
        "subscription cursor verbs sub-create/sub-delete/sub-backlog/"
        "sub-clear/sub-seek",
    )
    p_seg.add_argument("topic")
    p_seg.add_argument(
        "verb",
        choices=[
            "create", "terminate", "delete",
            "sub-create", "sub-delete", "sub-backlog", "sub-clear", "sub-seek",
        ],
    )
    p_seg.add_argument("--segment", type=int, required=True, help="segment id")
    p_seg.add_argument("--name", help="subscription name (sub-* verbs)")
    p_seg.add_argument("--timestamp", help="sub-seek target, e.g. '2026-01-01 00:00:00'")
    p_seg.add_argument(
        "--force", action="store_true",
        help="delete: skip the subscription-backlog safety check",
    )

    p_auto = sub.add_parser(
        "autoscale", help="PIP-483 tick: sample load, report, evaluate split/merge"
    )
    p_auto.add_argument("topic")
    p_auto.add_argument("--window", type=float, default=60.0)
    p_auto.add_argument("--apply", action="store_true", help="execute the decision")
    p_auto.add_argument(
        "--split-msg-rate",
        type=float,
        default=None,
        help="override AutoScaleConfig.split_msg_rate_in (policy tuning)",
    )

    p_apol = sub.add_parser(
        "autoscale-policy",
        help="per-topic AutoScalePolicyOverride: set/get/remove (persisted)",
    )
    p_apol.add_argument("topic")
    p_apol.add_argument("verb", choices=["set", "get", "remove"])
    p_apol.add_argument(
        "--json", dest="policy_json", default=None,
        help='override fields as JSON, e.g. \'{"split_msg_rate_in": 500.0}\'',
    )

    p_dels = sub.add_parser(
        "delete-scalable", help="delete a scalable topic (DAG + segments + registries)"
    )
    p_dels.add_argument("topic")
    p_dels.add_argument("--force", action="store_true",
                        help="delete even with existing subscriptions")

    p_rsub = sub.add_parser(
        "replsub",
        help="replicated-subscriptions controller: tick/snapshot/sync/status",
    )
    p_rsub.add_argument("topic")
    p_rsub.add_argument("verb", choices=["tick", "snapshot", "sync", "status"])
    p_rsub.add_argument("--cluster", default="local",
                        help="this cluster's name (the marker origin)")
    p_rsub.add_argument(
        "--remote", action="append", default=[],
        metavar="NAME=PATH",
        help="remote cluster topic dir (repeatable), e.g. west=/data/west/t",
    )
    p_rsub.add_argument("--subscription", default=None,
                        help="subscription to sync (replsub sync)")

    p_txn = sub.add_parser(
        "txn",
        help="v5 transaction maintenance: status / recover (finish "
        "crash-split commits, drop aborted stages) / materialize "
        "(txn-buffer materialization + registry GC for a topic)",
    )
    p_txn.add_argument("registry", help="coordinator registry JSON path")
    p_txn.add_argument("verb", choices=["status", "recover", "materialize"])
    p_txn.add_argument("--topic", default=None,
                       help="topic dir (materialize only)")

    p_pol = sub.add_parser(
        "policy", help="durable topic/namespace policies: set/get/remove/list"
    )
    p_pol.add_argument("path", help="topic dir (topic policy) or namespace dir")
    p_pol.add_argument("verb", choices=["set", "get", "remove", "list"])
    p_pol.add_argument("--key", default=None)
    p_pol.add_argument("--json", dest="policy_json", default=None,
                       help="policy value as JSON")

    args = ap.parse_args(argv)

    if args.cmd == "autoscale-policy":  # sidecar-only, no session
        from pulsar_spark.sources.autoscale import (
            AutoScalePolicyOverride,
            get_autoscale_policy,
            remove_autoscale_policy,
            set_autoscale_policy,
        )

        if args.verb == "set":
            if not args.policy_json:
                ap.error("autoscale-policy set needs --json")
            ov = AutoScalePolicyOverride.from_dict(json.loads(args.policy_json))
            set_autoscale_policy(args.topic, ov)
            print(json.dumps({"topic": args.topic, "set": ov.to_dict()}))
        elif args.verb == "get":
            ov = get_autoscale_policy(args.topic)
            print(json.dumps({"topic": args.topic,
                              "override": ov.to_dict() if ov else None}))
        else:
            print(json.dumps({"topic": args.topic,
                              "removed": remove_autoscale_policy(args.topic)}))
        return 0
    if args.cmd == "delete-scalable":  # directory-level op, no session
        from pulsar_spark.sources import delete_scalable_topic

        deleted = delete_scalable_topic(args.topic, force=args.force)
        print(json.dumps({"topic": args.topic, "deleted": deleted}))
        return 0
    if args.cmd == "txn" and args.verb == "materialize" and not args.topic:
        ap.error("txn materialize needs --topic")  # before session startup
    if args.cmd == "decrypt":  # arg-combination checks before session startup
        if bool(args.retry_key) != bool(args.retry_private_key):
            ap.error("--retry-key and --retry-private-key go together")
        if args.retry_key and args.on_failure != "consume":
            ap.error("--retry-key requires --on-failure consume (only the "
                     "CONSUME contract keeps the encryption context a retry "
                     "needs)")
    if args.cmd == "curate":
        if bool(args.key_name) != bool(args.private_key):
            ap.error("curate --key-name and --private-key go together")
        if args.quarantine and (not args.key_name or args.on_failure != "consume"):
            ap.error("--quarantine needs --key-name and --on-failure consume")
    if args.cmd == "txn" and args.verb in ("status", "recover"):
        # registry-only verbs, no session
        from collections import Counter

        from pulsar_spark.sources import V5TransactionCoordinator

        coord = V5TransactionCoordinator(args.registry)
        if args.verb == "status":
            recs = {
                k: v for k, v in coord._load().items() if not k.startswith("_")
            }
            print(json.dumps({
                "registry": args.registry,
                "txns": len(recs),
                "by_status": dict(Counter(v["status"] for v in recs.values())),
                "unapplied_commits": sum(
                    1 for v in recs.values()
                    if v["status"] == "COMMITTED" and not v.get("acks_applied")
                ),
            }))
        else:
            print(json.dumps({"registry": args.registry, **coord.recover()}))
        return 0
    if args.cmd == "policy":  # sidecar-only, no session
        from pulsar_spark.sources.policies import (
            get_policies,
            remove_policy,
            set_policy,
        )

        if args.verb == "set":
            if not args.key or args.policy_json is None:
                ap.error("policy set needs --key and --json")
            set_policy(args.path, args.key, json.loads(args.policy_json))
            print(json.dumps({"path": args.path, "set": args.key}))
        elif args.verb == "get":
            if not args.key:
                ap.error("policy get needs --key")
            print(json.dumps({args.key: get_policies(args.path).get(args.key)}))
        elif args.verb == "remove":
            if not args.key:
                ap.error("policy remove needs --key")
            print(json.dumps({"removed": remove_policy(args.path, args.key)}))
        else:
            print(json.dumps(get_policies(args.path)))
        return 0

    if args.cmd == "create":  # no Spark session needed
        from pulsar_spark.sources.topics import create_topic

        create_topic(args.topic, args.partitions)
        print(json.dumps({"created": args.topic, "partitions": args.partitions}))
        return 0
    if args.cmd == "truncate":  # directory-level metadata op, no session
        from pulsar_spark.sources.topics import truncate_topic

        truncate_topic(args.topic)
        print(json.dumps({"truncated": args.topic}))
        return 0
    if args.cmd == "update-partitions":  # sidecar-only metadata op
        from pulsar_spark.sources.topics import update_partitions

        update_partitions(args.topic, args.partitions)
        print(json.dumps({"topic": args.topic, "partitions": args.partitions}))
        return 0
    if args.cmd == "create-scalable":  # sidecar-only metadata op
        from pulsar_spark.sources import create_scalable_topic

        create_scalable_topic(args.topic, num_initial_segments=args.segments)
        print(json.dumps({"created": args.topic, "segments": args.segments}))
        return 0
    if args.cmd == "split-segment":
        from pulsar_spark.sources import split_segment

        children = split_segment(args.topic, args.segment)
        print(json.dumps({"sealed": args.segment, "children": list(children)}))
        return 0
    if args.cmd == "merge-segments":
        from pulsar_spark.sources import merge_segments

        child = merge_segments(args.topic, *args.segments)
        print(json.dumps({"sealed": args.segments, "child": child}))
        return 0
    if args.cmd == "subscription" and args.verb in ("ack", "holes"):
        # individualDeletedMessages verbs (sources/ack_holes.py):
        # registry-only, no Spark session needed
        from pulsar_spark.sources import (
            acknowledge_individual,
            subscription_ack_holes,
            subscription_checkpoint,
        )

        if not args.name:
            print(json.dumps({"error": "--name is required"}))
            return 2
        try:
            if args.verb == "ack":
                if not args.ids:
                    print(json.dumps({"error": "--ids is required for ack"}))
                    return 2
                acks: dict[int, list[int]] = {}
                for pair in args.ids.split(","):
                    seg, _, off = pair.strip().partition(":")
                    if not off:
                        raise ValueError(
                            f"bad message id {pair.strip()!r}: want segment:offset"
                        )
                    acks.setdefault(int(seg), []).append(int(off))
                ck = acknowledge_individual(args.topic, args.name, acks)
                print(json.dumps({
                    "subscription": args.name,
                    "cursor": {str(k): v for k, v in sorted(ck.offsets.items())},
                    "holes": subscription_ack_holes(args.topic, args.name),
                }))
                return 0
            print(json.dumps({
                "subscription": args.name,
                "cursor": {
                    str(k): v
                    for k, v in sorted(
                        subscription_checkpoint(args.topic, args.name).offsets.items()
                    )
                },
                "holes": subscription_ack_holes(args.topic, args.name),
            }))
            return 0
        except (ValueError, KeyError) as exc:
            # the CLI's JSON-error contract: usage/registry errors are
            # {"error": ...} + exit 2, never a traceback
            print(json.dumps({"error": str(exc)}))
            return 2

    if args.cmd == "subscription" and args.verb in ("create", "delete", "list"):
        # registry-only verbs: no Spark session needed
        from pulsar_spark.sources import (
            create_subscription,
            delete_subscription,
            list_subscriptions,
        )

        if args.verb == "list":
            print(json.dumps({"topic": args.topic, "subscriptions": list_subscriptions(args.topic)}))
            return 0
        if not args.name:
            print(json.dumps({"error": "--name is required"}))
            return 2
        if args.verb == "create":
            created = create_subscription(args.topic, args.name)
            print(json.dumps({"subscription": args.name, "created": created}))
        else:
            deleted = delete_subscription(args.topic, args.name)
            print(json.dumps({"subscription": args.name, "deleted": deleted}))
        return 0

    if args.cmd == "subscription":
        # validate BEFORE paying SparkSession startup — a usage error
        # must not boot (and then leak) a JVM
        if not args.name:
            print(json.dumps({"error": "--name is required"}))
            return 2
        if args.verb == "seek" and not args.timestamp:
            print(json.dumps({"error": "--timestamp is required for seek"}))
            return 2

    if args.cmd == "segment":
        if args.verb.startswith("sub-") and not args.name:
            print(json.dumps({"error": "--name is required for sub-* verbs"}))
            return 2
        if args.verb == "sub-seek" and not args.timestamp:
            print(json.dumps({"error": "--timestamp is required for sub-seek"}))
            return 2
        if args.verb in ("create", "terminate", "sub-create", "sub-delete") or (
            args.verb == "delete" and args.force
        ):
            # registry/metadata-only verbs: no Spark session needed.
            # sub-create on a LATEST-sentinel subscription is the one
            # case that needs a session (resolving the sentinel); it
            # falls THROUGH to the session path instead of dumping a
            # traceback over the CLI's JSON contract.
            from pulsar_spark.sources import (
                create_segment,
                create_segment_subscription,
                delete_segment,
                delete_segment_subscription,
                terminate_segment,
            )

            out = None
            if args.verb == "create":
                out = {"created": create_segment(args.topic, args.segment)}
            elif args.verb == "terminate":
                out = {"terminated": terminate_segment(args.topic, args.segment)}
            elif args.verb == "delete":
                out = {"deleted": delete_segment(args.topic, args.segment, force=True)}
            elif args.verb == "sub-create":
                try:
                    out = {"created": create_segment_subscription(
                        args.topic, args.segment, args.name)}
                except ValueError as ex:
                    if "LATEST sentinel" not in str(ex):
                        raise
                    # falls through to the Spark-session branch below
            else:
                out = {"deleted": delete_segment_subscription(
                    args.topic, args.segment, args.name)}
            if out is not None:
                print(json.dumps({"segment": args.segment, **out}))
                return 0

    from pyspark.sql import SparkSession

    from pulsar_spark import get_spark

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("pulsar-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "txn":  # materialize (needs a session)
        from pulsar_spark.sources import (
            V5TransactionCoordinator,
            materialize_transactions,
        )

        coord = V5TransactionCoordinator(args.registry)
        stats = materialize_transactions(spark, args.topic, coord)
        print(json.dumps({"registry": args.registry, "topic": args.topic, **stats}))
        if owns_session:
            spark.stop()
        return 0

    if args.cmd == "replsub":
        from pulsar_spark.streaming.replicated_subscriptions import (
            ReplicatedSubscriptionsController,
        )

        remotes = dict(r.split("=", 1) for r in args.remote)
        ctl = ReplicatedSubscriptionsController(
            spark, args.topic, args.cluster, remotes
        )
        if args.verb == "tick":
            print(json.dumps({"topic": args.topic, **ctl.tick()}))
        elif args.verb == "snapshot":
            print(json.dumps({"topic": args.topic,
                              "snapshot_id": ctl.start_snapshot()}))
        elif args.verb == "sync":
            if not args.subscription:
                ap.error("replsub sync needs --subscription")
            snap = ctl.sync_subscription(args.subscription)
            print(json.dumps({"topic": args.topic,
                              "subscription": args.subscription,
                              "snapshot": snap}))
        else:  # status
            st = ctl._load()
            print(json.dumps({
                "topic": args.topic,
                "enabled": ctl.enabled(),
                "pending": sorted(st["pending"]),
                "completed_snapshots": len(st["snapshots"]),
                "marker_watermarks": st["marker_watermarks"],
            }))
        if owns_session:
            spark.stop()
        return 0

    if args.cmd == "produce":
        from pulsar_spark.sources.topics import produce

        df = spark.read.format(args.format).load(args.input)
        produce(
            df,
            args.topic,
            key_col=args.key_col,
            num_partitions=args.num_partitions,
            producer_name=args.producer_name,
        )
        print(json.dumps({"produced": df.count(), "topic": args.topic}))
    elif args.cmd == "read":
        from pulsar_spark.sources.topics import read_topic

        df = read_topic(
            spark,
            args.topic,
            args.from_offset,
            args.from_time,
            end_offset=args.to_offset,
            end_time=args.to_time,
        )
        for row in df.orderBy("partition", "offset").limit(args.limit).collect():
            print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
    elif args.cmd == "consume":
        from pulsar_spark.operators import peek_messages
        from pulsar_spark.sources.topics import read_topic

        df = peek_messages(read_topic(spark, args.topic), args.limit)
        for row in df.orderBy("partition", "offset").collect():
            print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
    elif args.cmd == "decrypt":
        from pulsar_spark import crypto
        from pulsar_spark.sources.topics import read_topic

        with open(args.private_key, "rb") as fh:
            pem = fh.read()
        df = crypto.decrypt_messages(
            read_topic(spark, args.topic),
            args.key_name,
            pem,
            failure_action=args.on_failure.upper(),
        )
        if args.retry_key:
            with open(args.retry_private_key, "rb") as fh:
                retry_pem = fh.read()
            df = crypto.decrypt_failed_rows(df, args.retry_key, retry_pem)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            written = spark.read.parquet(args.out)
            failed = (
                written.where("crypto_failure").count()
                if "crypto_failure" in written.columns
                else 0
            )
            print(json.dumps({
                "topic": args.topic,
                "out": args.out,
                "rows": written.count(),
                "crypto_failed": failed,
            }))
        else:
            for row in df.orderBy("partition", "offset").limit(args.limit).collect():
                print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
    elif args.cmd == "stats":
        from pulsar_spark.operators import topic_stats
        from pulsar_spark.sources.topics import read_topic

        for row in topic_stats(read_topic(spark, args.topic)).collect():
            print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
    elif args.cmd == "scalable-stats":
        from pulsar_spark.sources import scalable_stats

        for row in scalable_stats(spark, args.topic).collect():
            print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
    elif args.cmd == "consume-namespace":
        import os as _os

        from pulsar_spark.durable import write_atomic
        from pulsar_spark.sources import (
            MultiCheckpoint,
            read_namespace_from_checkpoint,
        )

        ck = MultiCheckpoint.earliest()
        if args.checkpoint and _os.path.exists(args.checkpoint):
            with open(args.checkpoint, "rb") as fh:
                ck = MultiCheckpoint.from_bytes(fh.read())
        df, advanced = read_namespace_from_checkpoint(spark, args.namespace, ck)
        cols = [c for c in ("topic_name", "segment", "offset", "key") if c in df.columns]
        for row in df.orderBy(*cols).limit(args.limit).collect():
            print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
        if args.checkpoint:
            write_atomic(args.checkpoint, advanced.to_bytes())
    elif args.cmd == "subscription":
        # spark-session verbs: backlog / clear-backlog / seek
        from pulsar_spark.sources import (
            clear_backlog,
            seek_subscription,
            subscription_backlog,
        )

        if args.verb == "backlog":
            rows = subscription_backlog(spark, args.topic, args.name).collect()
            print(json.dumps({
                "subscription": args.name,
                "backlog": {str(r.segment): int(r.backlog) for r in rows},
            }))
        elif args.verb == "clear-backlog":
            vec = clear_backlog(spark, args.topic, args.name)
            print(json.dumps({
                "subscription": args.name, "cleared": True,
                "cursor": {str(k): v for k, v in sorted(vec.offsets.items())},
            }))
        else:  # seek (--timestamp validated before session creation)
            vec = seek_subscription(spark, args.topic, args.name, args.timestamp)
            print(json.dumps({
                "subscription": args.name, "seeked_to": args.timestamp,
                "cursor": {str(k): v for k, v in sorted(vec.offsets.items())},
            }))
    elif args.cmd == "segment":
        # spark-session verbs: delete (safety check), sub-backlog,
        # sub-clear, sub-seek, and the LATEST-sentinel sub-create
        # fallthrough from the registry-only branch
        from pulsar_spark.sources import (
            clear_segment_subscription_backlog,
            create_segment_subscription,
            delete_segment,
            get_segment_subscription_backlog,
            seek_segment_subscription,
        )

        if args.verb == "sub-create":
            created = create_segment_subscription(
                args.topic, args.segment, args.name, spark=spark
            )
            print(json.dumps(
                {"segment": args.segment, "subscription": args.name,
                 "created": created}
            ))
        elif args.verb == "delete":
            ok = delete_segment(args.topic, args.segment, force=False, spark=spark)
            print(json.dumps({"segment": args.segment, "deleted": ok}))
        elif args.verb == "sub-backlog":
            n = get_segment_subscription_backlog(
                spark, args.topic, args.segment, args.name
            )
            print(json.dumps(
                {"segment": args.segment, "subscription": args.name, "backlog": n}
            ))
        elif args.verb == "sub-clear":
            off = clear_segment_subscription_backlog(
                spark, args.topic, args.segment, args.name
            )
            print(json.dumps(
                {"segment": args.segment, "subscription": args.name, "cursor": off}
            ))
        else:  # sub-seek
            off = seek_segment_subscription(
                spark, args.topic, args.segment, args.name, args.timestamp
            )
            print(json.dumps({
                "segment": args.segment, "subscription": args.name,
                "seeked_to": args.timestamp, "cursor": off,
            }))
    elif args.cmd == "autoscale":
        from pulsar_spark.sources import AutoScaleConfig, autoscale_tick

        # Cooldown clocks persist in _autoscale_state.json under the topic
        # dir, so repeated --apply ticks coalesce by split/merge cooldown
        # the way ScalableTopicController does.
        # no explicit flag -> config=None, so the tick resolves the
        # PERSISTED per-topic override / namespace policy (a restarted
        # process keeps operator-tuned thresholds)
        cfg = (
            AutoScaleConfig(split_msg_rate_in=args.split_msg_rate)
            if args.split_msg_rate is not None
            else None
        )
        out = autoscale_tick(
            spark, args.topic, window_s=args.window, config=cfg, apply=args.apply
        )
        print(json.dumps(out))
    elif args.cmd == "last":
        from pulsar_spark.operators.seek import last_message_ids
        from pulsar_spark.sources.topics import read_topic

        for row in (
            last_message_ids(read_topic(spark, args.topic))
            .orderBy("partition")
            .collect()
        ):
            print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
    elif args.cmd == "offload":
        if args.from_policy:
            import datetime

            from pulsar_spark.sources.policies import run_offload_policy

            now = args.before or datetime.datetime.now().isoformat(sep=" ")
            stats = run_offload_policy(spark, args.topic, now)
            print(json.dumps(
                stats if stats is not None
                else {"skipped": True, "reason": "no offload_policies stored"}
            ))
        else:
            if not args.cold or not args.before:
                ap.error("offload needs --cold and --before (or --from-policy)")
            from pulsar_spark.sources.tiered import offload_partitions

            stats = offload_partitions(spark, args.topic, args.cold, args.before)
            print(json.dumps(stats))
    elif args.cmd == "skip":
        from pulsar_spark.operators import skip_cursor
        from pulsar_spark.sources.topics import read_topic

        m = read_topic(spark, args.topic).where(f"offset >= {int(args.from_offset)}")
        for row in skip_cursor(m, args.count).orderBy("partition").collect():
            print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
    elif args.cmd == "compact":
        from pulsar_spark.operators import compact_topic_storage

        horizon = compact_topic_storage(
            spark, args.topic, event_time_order=args.event_time_order
        )
        print(json.dumps({"compacted_horizon": horizon}))
    elif args.cmd == "curate":
        from pyspark.sql import functions as F

        from pulsar_spark.functions.curation import curate_corpus

        crypto_failed = 0
        if args.key_name:
            # encrypted-corpus hook: decrypt payload -> text first; under
            # CONSUME, flagged rows leave the pipeline BEFORE the text
            # decode (their payload is still ciphertext) and are
            # quarantined with their encryption context intact so a late
            # key can recover them (crypto.decrypt_failed_rows)
            from pulsar_spark import crypto

            with open(args.private_key, "rb") as fh:
                pem = fh.read()
            # persist: the decrypted frame is consumed by up to three
            # actions (quarantine/flagged count, the shard write via
            # curate_corpus, the docs_in count) and each would otherwise
            # re-run the per-row AES-GCM pandas UDF over the full corpus
            dec = crypto.decrypt_messages(
                spark.read.parquet(args.input),
                args.key_name,
                pem,
                failure_action=args.on_failure.upper(),
            ).persist()
            if args.on_failure == "consume":
                flagged = dec.where("crypto_failure")
                if args.quarantine:
                    flagged.write.mode("overwrite").parquet(args.quarantine)
                    crypto_failed = spark.read.parquet(args.quarantine).count()
                else:
                    crypto_failed = flagged.count()
                dec = dec.where(~F.col("crypto_failure"))
            # cast, not decode(UTF-8): Catalyst may collapse the text
            # projection into the same Project that computes
            # crypto_failure (below the filter), evaluating it
            # speculatively on still-encrypted rows — and ciphertext is
            # not valid UTF-8, so strict decode throws. The binary ->
            # string cast reinterprets bytes without charset validation
            # (identical output for the valid-UTF-8 plaintext rows).
            docs = (
                dec.withColumn("text", F.col("payload").cast("string"))
                .withColumn("n_chars", F.length("text").cast("bigint"))
                .select("doc_id", "text", "source", "n_chars")
            )
        else:
            docs = spark.read.parquet(args.input).select(
                "doc_id", "text", "source", "n_chars"
            )
        bins = curate_corpus(
            docs,
            total_rows=args.total_rows,
            label=F.col("n_chars") >= args.label_chars,
            temperature=args.temperature,
            mix_seed=args.seed,
            shuffle_seed=(
                args.shuffle_seed if args.shuffle_seed is not None else args.seed + 2
            ),
            num_shards=args.shards,
            seq_len=args.seq_len,
        )
        bins.repartition("shard").write.mode("overwrite").partitionBy(
            "shard"
        ).parquet(args.out)
        written = spark.read.parquet(args.out)
        stats = written.agg(
            F.count("*").alias("bins"),
            F.sum("n_docs").alias("docs"),
            F.sum("sum_tokens").alias("tokens"),
        ).first()
        print(
            json.dumps(
                {
                    "out": args.out,
                    "docs_in": docs.count(),
                    "docs_packed": int(stats["docs"] or 0),
                    "bins": int(stats["bins"] or 0),
                    "tokens": int(stats["tokens"] or 0),
                    "crypto_failed": crypto_failed,
                }
            )
        )
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
