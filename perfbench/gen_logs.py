"""Seeded Buildkite job-log generator and its plain-Python ground truth.

``generate_jobs(seed, ...)`` returns job descriptors and the raw bytes of
each job log; ``write_jobs`` puts them on disk as one file per job.  The
line mix follows real Buildkite output:

* most lines carry an OSC timestamp (``ESC _bk;t=<ms> BEL``);
* git progress lines carry several OSC segments separated by bare CR and
  end in ``ESC [K``;
* ANSI colour, both ``ESC [..m`` and the ESC-less ``[..m`` form;
* group headers with all three markers (``~~~``, ``---``, ``+++``), rare;
* shell commands (``$ ...``), lines without any OSC prefix, and a few
  lines with a malformed or int64-overflowing timestamp, which the
  engine quarantines;
* LF and CRLF line endings mixed within a file.

File sizes are heavy-tailed (Pareto quantiles, the same for every seed)
and capped far below the ingest's single-task window limit, so
``group_strategy="auto"`` takes the window path, as it does for real job
logs.

``expected_job`` re-derives every answer the engine must give from the raw
bytes alone, following the reference parser rules line by line: line
splitting on LF with one trailing CR dropped, OSC parse, ANSI strip,
classification and running-group propagation.
"""

from __future__ import annotations

import os
import random
import re
from dataclasses import dataclass, field

OSC = "\x1b_bk;t="
BEL = "\x07"
ANSI_RE = re.compile("\x1b\\[[^A-Za-z]*[A-Za-z]?|\\[[0-9;]{0,8}[A-Za-z]")
TS_RE = re.compile(r"[+-]?[0-9]+")
NO_TS_MS = -62135596800000
NO_GROUP = "<no group>"
INT64_MIN, INT64_MAX = -(2**63), 2**63 - 1

PIPELINES = ["api", "web", "infra", "mobile", "data", "docs"]
GROUP_TITLES = [
    ":buildkite: Preparing working directory",
    ":docker: Building image",
    ":pip: Installing dependencies",
    ":pytest: Running unit tests",
    ":go: Running go test ./...",
    ":eslint: Linting",
    ":package: Uploading artifacts",
    ":s3: Syncing cache",
    ":terraform: Plan",
    ":rocket: Deploying",
    "Running integration tests",
    "Collecting coverage",
]
MARKERS = ["~~~", "---", "+++"]
WORDS = (
    "build step agent queue cache layer image test suite module error warn "
    "info debug fetch merge commit branch retry timeout passed failed skipped "
    "artifact upload download compile link package install resolve worker "
    "shard node config env token secret plugin hook checkout clean exit"
).split()
COMMANDS = [
    "git fetch -v --prune -- origin",
    "git checkout -f {h}",
    "docker build -t app:{h} .",
    "make test SHARD={n}",
    "pip install -r requirements.txt",
    "go test ./... -count=1",
    "npm ci --no-audit",
    "buildkite-agent artifact upload 'dist/**/*'",
]
COLOURS = ["\x1b[32m", "\x1b[31m", "\x1b[33m", "\x1b[1;34m", "\x1b[90m"]
RESET = "\x1b[0m"


@dataclass
class Job:
    """One generated job log: its lake coordinates and raw file bytes."""

    pipeline: str
    build: int
    job: str
    data: bytes = field(repr=False)

    @property
    def file_name(self) -> str:
        return f"{self.pipeline}__{self.build}__{self.job}.log"


def _job_lines(
    rng: random.Random, n_lines: int, ts0: int, phrases: list[str]
) -> list[str]:
    """Lines of one job log, without their line endings."""
    ts = ts0
    out: list[str] = []
    n_headers = max(1, min(12, n_lines // 400))
    header_at = set(rng.sample(range(n_lines), n_headers))
    titles = rng.sample(GROUP_TITLES, min(n_headers, len(GROUP_TITLES)))
    # the first group starts after a short preamble, so "<no group>" exists
    preamble = rng.randint(3, 12)
    for i in range(n_lines):
        ts += rng.randint(0, 40)
        osc = f"{OSC}{ts}{BEL}"
        if i in header_at and i >= preamble:
            title = rng.choice(titles)
            marker = rng.choice(MARKERS)
            if rng.random() < 0.3:
                title = f"{rng.choice(COLOURS)}{title}{RESET}"
            out.append(f"{osc}{marker} {title}")
            continue
        r = rng.random()
        if r < 0.06:
            cmd = rng.choice(COMMANDS).format(
                h=f"{rng.getrandbits(40):010x}", n=rng.randint(1, 16)
            )
            prompt = "$ " if rng.random() < 0.7 else f"{COLOURS[4]}$ {RESET}"
            out.append(f"{osc}{prompt}{cmd}")
        elif r < 0.10:
            # git progress: several OSC segments on one LF-line, CR-separated
            total = rng.randint(50, 5000)
            what = rng.choice(["Counting objects", "Receiving objects", "Resolving deltas"])
            segs = []
            for pct in sorted(rng.sample(range(1, 100), rng.randint(2, 6))) + [100]:
                ts += rng.randint(0, 5)
                segs.append(
                    f"{OSC}{ts}{BEL}remote: {what}: {pct:3d}% "
                    f"({total * pct // 100}/{total})\x1b[K"
                )
            out.append("\r".join(segs))
        elif r < 0.18:
            # no OSC prefix at all: stack traces, blank lines, raw tool output
            k = rng.random()
            if k < 0.2:
                out.append("")
            elif k < 0.6:
                out.append(f"    at {rng.choice(WORDS)}.{rng.choice(WORDS)} (main.go:{rng.randint(1, 900)})")
            else:
                out.append(rng.choice(phrases))
        elif r < 0.185:
            # malformed timestamps: quarantined, never entries
            bad = rng.choice([f"{ts}x", "", "abc", "99999999999999999999", f"{ts} "])
            out.append(f"{OSC}{bad}{BEL}{rng.choice(WORDS)} {rng.choice(WORDS)}")
        else:
            words = rng.choice(phrases)
            k = rng.random()
            if k < 0.15:
                words = f"{rng.choice(COLOURS)}{words}{RESET}"
            elif k < 0.2:
                words = f"[1;31m{words}[0m"
            elif k < 0.23:
                words = f"{words} 100% ✓ café"
            out.append(f"{osc}{words}")
    return out


def job_sizes(n_jobs: int, total_lines: int, max_lines: int) -> list[int]:
    """Line counts of the jobs: Pareto (alpha 1.3) quantiles, capped at
    ``max_lines``, in a fixed shuffled order.

    The sizes do not depend on the seed.  The largest file sets the time
    of the ingest's window stage, so drawing sizes per seed would make
    the benchmark measure the luck of the draw; the seed varies content.
    """
    weights = [(1 - (k + 0.5) / n_jobs) ** (-1 / 1.3) for k in range(n_jobs)]
    scale = total_lines / sum(weights)
    sizes = [max(50, min(max_lines, int(w * scale))) for w in weights]
    random.Random(0).shuffle(sizes)
    return sizes


def generate_jobs(
    seed: int, n_jobs: int, total_lines: int, max_lines: int
) -> list[Job]:
    """``n_jobs`` job logs with about ``total_lines`` lines in all, sized
    by ``job_sizes``.  The same seed always gives byte-identical logs."""
    rng = random.Random(seed)
    phrases = [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 14)))
        for _ in range(4096)
    ]
    sizes = job_sizes(n_jobs, total_lines, max_lines)
    jobs = []
    for j, n in enumerate(sizes):
        pipeline = PIPELINES[j % len(PIPELINES)]
        build = 100 + j // len(PIPELINES) // 3
        # Buildkite job ids are UUIDs
        b = f"{rng.getrandbits(128):032x}"
        job_id = f"{b[:8]}-{b[8:12]}-4{b[13:16]}-{b[16:20]}-{b[20:]}"
        lines = _job_lines(rng, n, 1_700_000_000_000 + j * 3_600_000, phrases)
        crlf = rng.choice([0.0, 0.0, 0.3, 1.0])
        data = "".join(
            ln + ("\r\n" if rng.random() < crlf else "\n") for ln in lines
        ).encode("utf-8")
        jobs.append(Job(pipeline, build, job_id, data))
    return jobs


def write_jobs(jobs: list[Job], directory: str) -> list[str]:
    """Write each job log as ``<pipeline>__<build>__<job>.log``."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for job in jobs:
        path = os.path.join(directory, job.file_name)
        with open(path, "wb") as f:
            f.write(job.data)
        paths.append(path)
    return paths


# ------------------------------------------------------------ ground truth


@dataclass
class Entry:
    row_id: int
    timestamp: int
    group: str
    has_timestamp: bool
    is_command: bool
    is_group: bool
    is_progress: bool


@dataclass
class JobTruth:
    """Everything the engine must report for one job log."""

    n_lines: int
    quarantined: int
    entries: list[Entry]


def parse_raw_lines(data: bytes) -> list[str]:
    """Split on LF only and drop one trailing CR (``bufio.ScanLines``)."""
    text = data.decode("utf-8")
    parts = text.split("\n")
    if parts and parts[-1] == "":
        parts.pop()
    return [p[:-1] if p.endswith("\r") else p for p in parts]


def expected_job(data: bytes) -> JobTruth:
    """Parse one job log by the reference rules, in plain Python."""
    entries: list[Entry] = []
    quarantined = 0
    group = ""
    lines = parse_raw_lines(data)
    for line_no, raw in enumerate(lines):
        osc = len(raw.encode("utf-8")) >= 10 and raw.startswith(OSC) and BEL in raw
        ts = NO_TS_MS
        content = raw
        if osc:
            bel = raw.index(BEL)
            ts_str = raw[len(OSC):bel]
            value = int(ts_str) if TS_RE.fullmatch(ts_str) else None
            if value is None or not INT64_MIN <= value <= INT64_MAX:
                quarantined += 1
                continue
            ts = value
            content = raw[bel + 1:]
        clean = ANSI_RE.sub("", content)
        is_group = clean.startswith(("~~~", "---", "+++"))
        if is_group:
            group = clean
        entries.append(
            Entry(
                row_id=line_no,
                timestamp=ts,
                group=group,
                has_timestamp=ts != NO_TS_MS,
                is_command=clean.startswith("$ "),
                is_group=is_group,
                is_progress="[K" in content
                and ("objects" in clean or "deltas" in clean or "%" in clean),
            )
        )
    return JobTruth(len(lines), quarantined, entries)


def group_name(group: str) -> str:
    return group if group else NO_GROUP


def list_groups_of(entries: list[Entry]) -> list[tuple]:
    """``list_groups(as_timestamp=False)`` rows, in its order."""
    acc: dict[str, list[int]] = {}
    for e in entries:
        name = group_name(e.group)
        a = acc.get(name)
        if a is None:
            acc[name] = [1, e.timestamp, e.timestamp, int(e.is_command), int(e.is_progress)]
        else:
            a[0] += 1
            a[1] = min(a[1], e.timestamp)
            a[2] = max(a[2], e.timestamp)
            a[3] += e.is_command
            a[4] += e.is_progress
    rows = [(name, *a) for name, a in acc.items()]
    return sorted(rows, key=lambda r: (r[2], r[0]))


def summary_of(entries: list[Entry]) -> tuple:
    """``processing_summary`` row: total, with time, commands, sections,
    progress, regular."""
    total = len(entries)
    with_ts = sum(e.has_timestamp for e in entries)
    cmds = sum(e.is_command for e in entries)
    sections = sum(e.is_group for e in entries)
    progress = sum(e.is_progress for e in entries)
    return (total, with_ts, cmds, sections, progress, total - cmds - sections - progress)


def by_group_count(entries: list[Entry], pattern: str) -> int:
    """Rows ``by_group_stats`` matches: case-insensitive substring of the
    group name with ``<no group>`` substituted first."""
    p = pattern.lower()
    return sum(p in group_name(e.group).lower() for e in entries)
