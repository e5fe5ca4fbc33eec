"""Alert sinks (SURVEY §2.2 K6) — pluggable driver-side callbacks.

The reference POSTs each anomaly row to a Slack webhook from the driver
(spark/jobs/stock_stream.py:31-33,103-114). Kept as a callback the
streaming pipeline invokes with a *bounded* list of rows
(streaming/pipeline.py caps with ``limit`` before collect — the
reference collected unbounded). At scale, prefer ``kafka_alert_sink``:
publish to an alert topic and let a downstream consumer fan out to
chat/email/pager without coupling the job to an HTTP endpoint.
"""

from __future__ import annotations

import json
import logging
from collections.abc import Callable
from typing import Any

AlertRows = list[dict[str, Any]]

log = logging.getLogger(__name__)


def format_anomaly_message(rows: AlertRows) -> str:
    """Human-readable alert text (reference stock_stream.py:108-114)."""
    lines = ["Anomalies detected:"]
    for r in rows:
        lines.append(
            f"  {r.get('symbol')} @ {r.get('timestamp')}: "
            f"close={r.get('close')} vwap_5={r.get('vwap_5')} "
            f"vol_5={r.get('vol_5')}"
        )
    return "\n".join(lines)


def slack_webhook_sink(webhook_url: str, timeout_s: float = 5.0) -> Callable[[AlertRows], None]:
    """K6: POST the formatted alert to a Slack-style webhook.

    Import of ``requests``/urllib happens at call time so environments
    without network never pay for it. A failed delivery never fails the
    streaming batch: it is tried once, logged as a warning with its
    error, and counted on the returned callable's ``failures``.
    """

    def send(rows: AlertRows) -> None:
        if not rows:
            return
        payload = json.dumps({"text": format_anomaly_message(rows)}).encode()
        try:
            from urllib.request import Request, urlopen

            req = Request(
                webhook_url, data=payload, headers={"Content-Type": "application/json"}
            )
            urlopen(req, timeout=timeout_s).read()
        except Exception as e:
            send.failures += 1
            log.warning(
                "alert delivery to %s failed (%d rows): %r", webhook_url, len(rows), e
            )

    send.failures = 0
    return send


def collecting_sink(store: list[AlertRows]) -> Callable[[AlertRows], None]:
    """Test double: append each alert batch to ``store``."""
    return store.append
