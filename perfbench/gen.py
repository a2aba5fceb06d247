"""Seeded inputs for the octadesk_daily workload.

Each batch is one run of the daily job. Like the reference job, a run
fetches every ticket and chat created in the last LOOKBACK_DAYS days
(reference main.py:40, `start_dt = now - 5d`; chats over the same range,
main.py:64), so each day is fetched five times and a ticket's status may
have changed between fetches. Re-fetched tickets and chats are duplicates
that dedup against the destination must drop. One batch drifts: its
tickets lack `updatedAt` and its chats carry a custom-field column whose
name needs sanitizing.

Sourced parameters: LOOKBACK_DAYS (main.py:40) and the daily cadence
(reference README.md:7). The ticket API's page size of 100 and its
transient-500 pattern live in the JVM side (FixtureTransport).

Unverified assumptions: the reference and the paper publish no volumes
or ratios, so these are chosen, not derived. TICKETS_PER_DAY and
CHATS_PER_DAY are sized so that a run fits its time budget; the share of
tickets whose status moves on, the share of chats that reference a
ticket, and the status and channel vocabularies are guesses. No ticket
has a blank id: tickets that share a blank id are cross-joined by the
program (see README.md, "Known-defect probes").
"""
import json
import random

BATCHES = 5
LOOKBACK_DAYS = 5            # reference main.py:40
DAYS = BATCHES + LOOKBACK_DAYS - 1
TICKETS_PER_DAY = 400        # assumption, sized for run time
CHATS_PER_DAY = 80           # assumption, sized for run time
MOVED_EVERY = 3              # assumption: every third ticket's status moves on
MOVED_AFTER_DAYS = 2         # assumption: ... two days after it was created
CHAT_REF_SHARE = 0.8         # assumption: share of chats that name a ticket
DRIFT_BATCH = 3
DAY_US = 86_400_000_000
ANCHOR_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
STATUSES = ["open", "pending", "waiting", "Resolvido", "Fechado"]
REGIONS = ["Sul", "Sudeste", "Norte", "Nordeste", "Centro-Oeste"]
DRIFT_FIELD = "cf_chat_Região do atendimento"


def iso(us):
    from datetime import datetime, timezone
    return datetime.fromtimestamp(us / 1e6, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def generate(seed):
    """All batches as plain records: a list of dicts with `id`, `start`,
    `end`, `drift`, `tickets` (uuid, number, created_us, status, email)
    and `chats` (JSON objects)."""
    rng = random.Random(seed)
    tickets_by_day = []  # per day: [uuid, number, created_us, base status index]
    chats_by_day = []    # per day: chat objects, and the drift field's value
    number = 100_000
    chat_no = 5_000_000
    for d in range(DAYS):
        day = []
        for off in sorted(rng.sample(range(DAY_US), TICKETS_PER_DAY)):
            number += 1
            uuid = f"tck-{number}-{rng.randrange(1 << 30):08x}"
            day.append([uuid, number, ANCHOR_US + d * DAY_US + off, rng.randrange(3)])
        tickets_by_day.append(day)
        # a chat names a ticket created within the lookback, up to its own day
        named = [t[1] for dd in range(max(0, d - LOOKBACK_DAYS + 1), d + 1)
                 for t in tickets_by_day[dd]]
        chats = []
        for _ in range(CHATS_PER_DAY):
            chat_no += 1
            ref = str(rng.choice(named)) if rng.random() < CHAT_REF_SHARE else None
            chats.append(({
                "chat_id": f"c{chat_no}",
                "number": chat_no,
                "evt_ticket_ticketNumber": ref,
                "createdAt": iso(ANCHOR_US + d * DAY_US + rng.randrange(DAY_US)),
                "status": rng.choice(["open", "closed", "closed"]),
                "Regiao": rng.choice(REGIONS),
                "channel": rng.choice(["whatsapp", "webchat"]),
            }, rng.choice(["capital", "interior"])))
        chats_by_day.append(chats)

    batches = []
    for b in range(BATCHES):
        window = range(b, b + LOOKBACK_DAYS)
        run_day = window[-1]
        drift = b == DRIFT_BATCH
        tickets = []
        for d in window:
            for uuid, num, created, st in tickets_by_day[d]:
                moved = num % MOVED_EVERY == 0 and run_day - d >= MOVED_AFTER_DAYS
                tickets.append((uuid, num, created, STATUSES[st + 2 if moved else st],
                                f"user{num % 1000}@example.com"))
        chats = []
        for d in window:
            for chat, drift_value in chats_by_day[d]:
                chats.append(dict(chat, **{DRIFT_FIELD: drift_value}) if drift else chat)
        batches.append({
            "id": f"b{b:04d}",
            "start": iso(ANCHOR_US + b * DAY_US),
            "end": iso(ANCHOR_US + (run_day + 1) * DAY_US - 1000),
            "drift": drift,
            "tickets": tickets,
            "chats": chats,
        })
    return batches


def land(batches, out_dir):
    """Write the batches where the JVM reads them: one ticket fixture TSV
    and one chat JSON-lines file per batch, plus `batches.tsv`."""
    lines = []
    for b in batches:
        tfile, cfile = f"{b['id']}-tickets.tsv", f"{b['id']}-chats.json"
        with open(out_dir / tfile, "w", encoding="utf-8") as f:
            f.writelines(f"{u}\t{n}\t{c}\t{s}\t{e}\n" for u, n, c, s, e in b["tickets"])
        with open(out_dir / cfile, "w", encoding="utf-8") as f:
            f.writelines(json.dumps(c, ensure_ascii=False) + "\n" for c in b["chats"])
        lines.append("\t".join([b["id"], tfile, cfile, b["start"], b["end"],
                                "1" if b["drift"] else "0",
                                str(len(b["tickets"])), str(len(b["chats"]))]))
    (out_dir / "batches.tsv").write_text("\n".join(lines) + "\n", encoding="utf-8")
