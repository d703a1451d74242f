"""Seeded ALB access-log generator with ground truth.

Only the generated ``.gz`` files reach the program. The generator also
returns what a correct parse must produce from them, computed from the
values it wrote and never from the program's own parser:

- ``valid``: lines the parser must keep;
- ``by_status``: per ``elb_status_code`` row count, received-byte sum
  and sent-byte sum;
- ``fingerprint``: the order-insensitive fingerprint
  (``stats.fingerprint``) of the 13-column table the program must
  land, UA families included.

Traffic dimensions (fixed shares, so every seed does the same work):

- ``N_AGENTS`` distinct user agents (browsers on several OSes,
  crawlers, HTTP clients and the ``-`` sentinel) drawn with Zipf
  skew, so a few agents carry most rows and the rows/distinct-agents
  duplication factor is far above 1;
- both timestamp formats (with and without fractional seconds);
- the ``-`` and ``-1`` sentinels in the status, timing and byte
  fields;
- absolute and relative request URLs;
- ``SHORT_SHARE`` short lines and ``BAD_TS_SHARE`` bad-timestamp
  lines, so both drop paths run.

No share here is measured from a real load balancer's logs: the agent
count, the Zipf exponent, the rank of ``-``, the status and method mix,
the sentinel rates and the drop-path shares are arbitrary fixed
choices. They make every code path run on every seed and keep the
duplication factor (printed per run) on one side of the UA strategy
chooser; a workload that needs a real traffic mix must measure one.
"""

from __future__ import annotations

import gzip
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timezone
from zoneinfo import ZoneInfo

from perfbench.stats import fingerprint_add, fingerprint_hex

N_AGENTS = 400
ZIPF_S = 1.1
SHORT_SHARE = 0.01
BAD_TS_SHARE = 0.01

LOCAL_TZ = ZoneInfo("America/New_York")
DAY0 = int(datetime(2025, 5, 26, tzinfo=timezone.utc).timestamp())

# (template, browser family, os family). `{a}`..`{c}` are version
# numbers drawn per agent; the families are uap-core's and do not
# depend on the version.
AGENT_TEMPLATES = [
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/{a}.0.{b}.{c} Safari/537.36", "Chrome", "Windows"),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/{a}.0.{b}.{c} Safari/537.36", "Chrome", "Mac OS X"),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/{a}.0.{b}.{c} Safari/537.36", "Chrome", "Linux"),
    ("Mozilla/5.0 (Linux; Android 13; Pixel 7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/{a}.0.{b}.{c} Mobile Safari/537.36", "Chrome Mobile", "Android"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/{a}.0.{b}.{c} Mobile/15E148 Safari/604.1", "Chrome Mobile iOS", "iOS"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/{a}.0.0.0 Safari/537.36 Edg/{a}.0.{b}.{c}", "Edge", "Windows"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:{a}.0) Gecko/20100101 Firefox/{a}.0", "Firefox", "Windows"),
    ("Mozilla/5.0 (X11; Ubuntu; Linux x86_64; rv:{a}.0) Gecko/20100101 Firefox/{a}.0", "Firefox", "Ubuntu"),
    ("Mozilla/5.0 (Android 13; Mobile; rv:{a}.0) Gecko/{a}.0 Firefox/{a}.0", "Firefox Mobile", "Android"),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/{d}.{b} Safari/605.1.15", "Safari", "Mac OS X"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/{d}.{b} Mobile/15E148 Safari/604.1", "Mobile Safari", "iOS"),
    ("Mozilla/5.0 (Linux; Android 13; SAMSUNG SM-S918B) AppleWebKit/537.36 (KHTML, like Gecko) SamsungBrowser/{d}.{b} Chrome/{a}.0.0.0 Mobile Safari/537.36", "Samsung Internet", "Android"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/{a}.0.0.0 Safari/537.36 OPR/{a}.0.{b}.{c}", "Opera", "Windows"),
    ("Mozilla/5.0 (compatible; Googlebot/2.{b}; +http://www.google.com/bot.html)", "Googlebot", "Other"),
    ("Mozilla/5.0 (compatible; bingbot/2.{b}; +http://www.bing.com/bingbot.htm)", "bingbot", "Other"),
    ("Mozilla/5.0 (compatible; AhrefsBot/7.{b}; +http://ahrefs.com/robot/)", "AhrefsBot", "Other"),
    ("curl/8.{b}.{c}", "curl", "Other"),
    ("python-requests/2.{b}.{c}", "Python Requests", "Other"),
    ("Go-http-client/1.{b}", "Go-http-client", "Other"),
    ("ELB-HealthChecker/2.{b}", "ELB-HealthChecker", "Other"),
]
SENTINEL_AGENT = ("-", "Unknown", "Unknown")
SENTINEL_RANK = 5

STATUSES = [200] * 70 + [301] * 4 + [302] * 4 + [304] * 6 + [400] * 3 + [403] * 2 + [404] * 7 + [500] * 2 + [502] * 1 + [503] * 1
METHODS = ["GET"] * 8 + ["POST", "PUT"]
PATHS = ["/", "/index.html", "/api/v1/items", "/api/v1/users", "/api/v2/search",
         "/static/app.js", "/static/app.css", "/health", "/login", "/checkout"]
HOST = "https://shop.example.com:443"
CIPHER_TAIL = (
    "ECDHE-RSA-AES128-GCM-SHA256 TLSv1.2 "
    "arn:aws:elasticloadbalancing:us-east-1:123456789012:targetgroup/bench/0a1b2c3d "
    '"Root=1-6834f2a6-0123456789abcdef01234567" "shop.example.com" "arn:cert" 0'
)


@dataclass
class AlbTruth:
    """What a correct parse of the generated files lands."""

    lines: int = 0
    valid: int = 0
    short: int = 0
    bad_ts: int = 0
    by_status: dict = field(default_factory=dict)  # code -> [rows, recv, sent]
    fp_acc: list = field(default_factory=lambda: [0, 0])
    agents_seen: set = field(default_factory=set)

    def merge(self, other: "AlbTruth") -> None:
        self.lines += other.lines
        self.valid += other.valid
        self.short += other.short
        self.bad_ts += other.bad_ts
        for k, (n, r, s) in other.by_status.items():
            cur = self.by_status.setdefault(k, [0, 0, 0])
            cur[0] += n
            cur[1] += r
            cur[2] += s
        self.fp_acc[0] += other.fp_acc[0]
        self.fp_acc[1] = (self.fp_acc[1] + other.fp_acc[1]) % (1 << 64)
        self.agents_seen |= other.agents_seen

    @property
    def fingerprint(self) -> str:
        return fingerprint_hex(self.fp_acc)

    @property
    def dup_factor(self) -> float:
        """rows / distinct agents: the statistic
        `functions.ua.choose_ua_strategy` decides on."""
        return self.valid / max(1, len(self.agents_seen))

    def summary(self) -> dict:
        return {
            "lines": self.lines,
            "valid": self.valid,
            "short": self.short,
            "bad_ts": self.bad_ts,
            "distinct_agents": len(self.agents_seen),
            "dup_factor": round(self.dup_factor, 2),
            "fingerprint": self.fingerprint,
        }


def agent_pool(rng: random.Random) -> list[tuple[str, str, str]]:
    """`N_AGENTS` distinct agents in Zipf rank order (rank 0 hottest).

    Rank r takes template r mod len(AGENT_TEMPLATES), so every seed has
    the same family mix at every rank (the UA ladder's cost depends on
    which families are hot); the seed draws the version numbers. The
    `-` sentinel holds rank `SENTINEL_RANK`, among the hot agents."""
    agents: list[tuple[str, str, str]] = []
    seen: set[str] = set()
    misses = 0
    while len(agents) < N_AGENTS - 1:
        # a template with few unused versions left passes its rank on
        i = len(agents) + misses // 8
        tpl, br, os_ = AGENT_TEMPLATES[i % len(AGENT_TEMPLATES)]
        ua = tpl.format(
            a=rng.randint(90, 131), b=rng.randint(0, 9),
            c=rng.randint(0, 199), d=rng.randint(12, 17),
        )
        if ua in seen:
            misses += 1
            continue
        seen.add(ua)
        agents.append((ua, br, os_))
        misses = 0
    agents.insert(SENTINEL_RANK, SENTINEL_AGENT)
    return agents


def _int_or_zero(tok: str) -> int:
    return int(tok) if tok.isdigit() else 0


def _local_wall(epoch_s: int, micros: int) -> str:
    """The UTC instant rendered as America/New_York wall clock, the
    value `log_timestamp` holds."""
    dt = datetime.fromtimestamp(epoch_s, tz=LOCAL_TZ).replace(microsecond=micros)
    return dt.strftime("%Y-%m-%d %H:%M:%S.%f")


def expected_row(f: dict, source: str) -> tuple:
    """The 13-column row a correct parse lands for one valid line, in
    `stats.canon` form."""
    times = [float(t) for t in f["times"]]
    # round() as the parser does; + 0.0 turns the -0.0 of a tiny
    # negative sum into the 0.0 a decimal round gives
    ms = round(sum(times) * 1000, 3) + 0.0
    return (
        _local_wall(f["epoch"], f["micros"]),
        f["client_ip"],
        f["method"],
        f["path"],
        _int_or_zero(f["elb_status"]),
        _int_or_zero(f["target_status"]),
        f"{ms:.1f}",
        _int_or_zero(f["recv"]),
        _int_or_zero(f["sent"]),
        f["ua"],
        f["browser"],
        f["os"],
        source,
    )


def _line(rng: random.Random, agents, cum_weights, truth: AlbTruth, source: str) -> str:
    r = rng.random()
    if r < SHORT_SHARE:
        truth.short += 1
        return f"h2 2025-05-26T10:{rng.randint(10, 59)}:00Z app/bench-alb/7f3e"
    epoch = DAY0 + rng.randrange(86_400)
    micros = rng.randrange(1_000_000) if rng.random() < 0.7 else 0
    stamp = datetime.fromtimestamp(epoch, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    ts = f"{stamp}.{micros:06d}Z" if micros else f"{stamp}Z"
    bad_ts = r < SHORT_SHARE + BAD_TS_SHARE
    if bad_ts:
        ts = f"2025-13-{rng.randint(40, 99)}Tbad"
    ua, browser, os_ = rng.choices(agents, cum_weights=cum_weights)[0]
    status = rng.choice(STATUSES)
    elb_status = "-" if rng.random() < 0.01 else str(status)
    target_status = rng.choice(["-", "-1"]) if rng.random() < 0.05 else str(status)
    times = [
        "-1" if rng.random() < 0.03 else f"{rng.randrange(0, 2500) / 1000:.3f}"
        for _ in range(3)
    ]
    recv = "-1" if rng.random() < 0.02 else str(rng.randint(40, 4000))
    sent = "-1" if rng.random() < 0.02 else str(rng.randint(0, 200_000))
    method = rng.choice(METHODS)
    path = rng.choice(PATHS)
    if path != "/" and rng.random() < 0.5:
        path = f"{path}/{rng.randint(1, 999)}"
    absolute = rng.random() < 0.6
    url = f"{HOST}{path}?q={rng.randint(0, 99)}" if absolute else path
    client_ip = f"10.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}"
    target = "-" if rng.random() < 0.02 else f"172.16.{rng.randint(0, 9)}.{rng.randint(1, 254)}:80"
    line = (
        f"{rng.choice(('h2', 'https', 'http'))} {ts} app/bench-alb/7f3e "
        f"{client_ip}:{rng.randint(1024, 65535)} {target} "
        f"{times[0]} {times[1]} {times[2]} {elb_status} {target_status} {recv} {sent} "
        f'"{method} {url} HTTP/{rng.choice(("1.1", "2.0"))}" "{ua}" {CIPHER_TAIL}'
    )
    if bad_ts:
        truth.bad_ts += 1
        return line
    fields = {
        "epoch": epoch, "micros": micros, "client_ip": client_ip,
        "method": method, "path": path, "elb_status": elb_status,
        "target_status": target_status, "times": times, "recv": recv,
        "sent": sent, "ua": ua, "browser": browser, "os": os_,
    }
    truth.valid += 1
    truth.agents_seen.add(ua)
    code = _int_or_zero(elb_status)
    st = truth.by_status.setdefault(code, [0, 0, 0])
    st[0] += 1
    st[1] += _int_or_zero(recv)
    st[2] += _int_or_zero(sent)
    fingerprint_add(truth.fp_acc, expected_row(fields, source))
    return line


def write_alb_files(
    out_dir: str, seed: int, n_files: int, lines_per_file: int
) -> tuple[list[str], list[AlbTruth]]:
    """Write `n_files` gzip files into `out_dir`; return their paths and
    per-file truth. The same seed gives byte-identical files."""
    rng = random.Random(seed)
    agents = agent_pool(rng)
    cum, acc = [], 0.0
    for rank in range(len(agents)):
        acc += 1.0 / (rank + 1) ** ZIPF_S
        cum.append(acc)
    os.makedirs(out_dir, exist_ok=True)
    paths, truths = [], []
    for i in range(n_files):
        name = f"alb-{i:04d}.log.gz"
        truth = AlbTruth()
        body = "\n".join(
            _line(rng, agents, cum, truth, name) for _ in range(lines_per_file)
        )
        truth.lines = lines_per_file
        path = os.path.join(out_dir, name)
        # mtime=0: the bytes depend on the seed only
        with open(path, "wb") as raw, gzip.GzipFile(
            filename="", mode="wb", fileobj=raw, mtime=0
        ) as gz:
            gz.write(body.encode() + b"\n")
        paths.append(path)
        truths.append(truth)
    return paths, truths


def total(truths: list[AlbTruth]) -> AlbTruth:
    out = AlbTruth()
    for t in truths:
        out.merge(t)
    return out

