"""Host-identity provider (reference E1: hostid.go:22-199).

Computes a stable identity for the producing host via the reference's
4-level fallback cascade, memoized per process (hostid.go:23-25):

1. ECS task ARN from container-metadata endpoints v4/v3/v2
   (hostid.go:27-53,80-109) — env vars ``ECS_CONTAINER_METADATA_URI_V4``
   / ``ECS_CONTAINER_METADATA_URI`` or the fixed v2 address, 500 ms
   timeout per probe (hostid.go:81,112).
2. EC2 instance ARN assembled from IMDS partition/account/AZ/instance-id
   (hostid.go:55-59,136-170); region derived from the AZ by stripping
   the trailing letter (AZ regex, hostid.go:15-19).
3. First global-unicast interface IP as ``ip-address:<ip>``
   (hostid.go:61-65,172-186).
4. Random UUID as ``uuid:<32 hex>`` (hostid.go:67-71,188-199).

Unlike the reference (which panics, hostid.go:77), level 4 cannot fail,
so the cascade always yields an identity.  The engine evaluates this
once driver-side and injects it as a literal ``partitionKey`` column:
one key per process, as in the reference (linestreamer.go:102,
jsonstreamer.go:66).  The session is ``local[N]``, so every executor
runs on the driver's host.
"""

from __future__ import annotations

import functools
import ipaddress
import json
import os
import re
import socket
import urllib.request
import uuid

_METADATA_TIMEOUT_S = 0.5  # hostid.go:81,112 — 500 ms per probe
_AZ_RE = re.compile(r"^([a-z]+(?:-[a-z]+)+-\d+)[a-z]$")  # hostid.go:15-19


def _http_get(url: str) -> str | None:
    try:
        with urllib.request.urlopen(url, timeout=_METADATA_TIMEOUT_S) as resp:
            return resp.read().decode("utf-8")
    except Exception:
        return None


def _ecs_task_arn() -> str | None:
    """ECS metadata v4 → v3 → v2 (hostid.go:27-53,80-109)."""
    for env in ("ECS_CONTAINER_METADATA_URI_V4", "ECS_CONTAINER_METADATA_URI"):
        base = os.environ.get(env)
        if base:
            body = _http_get(f"{base}/task")
            if body:
                try:
                    arn = json.loads(body).get("TaskARN")
                    if arn:
                        return str(arn)
                except (ValueError, AttributeError):
                    pass
    body = _http_get("http://169.254.170.2/v2/metadata")
    if body:
        try:
            arn = json.loads(body).get("TaskARN")
            if arn:
                return str(arn)
        except (ValueError, AttributeError):
            pass
    return None


def _ec2_instance_arn() -> str | None:
    """Assemble arn:<partition>:ec2:<region>:<account>:instance/<id>
    from IMDS (hostid.go:55-59,136-170)."""
    imds = "http://169.254.169.254/latest"
    doc = _http_get(f"{imds}/dynamic/instance-identity/document")
    if not doc:
        return None
    try:
        ident = json.loads(doc)
        account = ident["accountId"]
        instance_id = ident["instanceId"]
        az = ident["availabilityZone"]
    except (ValueError, KeyError):
        return None
    m = _AZ_RE.match(az)
    if not m:
        return None
    region = m.group(1)
    partition = "aws-cn" if region.startswith("cn-") else (
        "aws-us-gov" if region.startswith("us-gov-") else "aws"
    )
    return f"arn:{partition}:ec2:{region}:{account}:instance/{instance_id}"


def _global_unicast_ip() -> str | None:
    """First global-unicast interface IP (hostid.go:61-65,172-186)."""
    candidates: list[str] = []
    try:
        host = socket.gethostname()
        for info in socket.getaddrinfo(host, None):
            candidates.append(info[4][0])
    except OSError:
        pass
    try:
        # UDP connect trick: finds the primary outbound interface without
        # sending packets.
        s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        s.connect(("192.0.2.1", 80))
        candidates.append(s.getsockname()[0])
        s.close()
    except OSError:
        pass
    for c in candidates:
        try:
            ip = ipaddress.ip_address(c.split("%")[0])
        except ValueError:
            continue
        if ip.is_global or (
            not ip.is_loopback
            and not ip.is_link_local
            and not ip.is_multicast
            and not ip.is_unspecified
        ):
            return f"ip-address:{ip}"
    return None


def _random_uuid() -> str:
    """uuid:<32 hex> (hostid.go:67-71,188-199)."""
    return f"uuid:{uuid.uuid4().hex}"


@functools.lru_cache(maxsize=1)
def get_host_id(probe_network: bool = False) -> str:
    """The memoized host identity (hostid.go:22-78).

    ``probe_network=False`` (default for tests/CI) skips the HTTP
    metadata probes and goes straight to interface-IP → uuid; pass True
    in real deployments to follow the full reference cascade.
    """
    if probe_network:
        for provider in (_ecs_task_arn, _ec2_instance_arn):
            ident = provider()
            if ident:
                return ident
    return _global_unicast_ip() or _random_uuid()
