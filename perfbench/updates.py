"""Seeded Telegram updates (FIXTURES.md schema R) and the five answers they imply.

The generator writes webhook bodies as JSON text: ~2% come from a foreign
chat and must be dropped at ingest, ~10% carry a sticker instead of text,
and every update has fields the ETL must drop (``update_id``,
``from.last_name``, ``from.username``, ``chat.title``, ``sticker``).

The expected answers are computed here in plain Python from the generated
rows, never from anything the program wrote, so a wrong answer from the
engine cannot also be the expectation.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

CHAT_ID = -1001700000001
FOREIGN_CHAT_ID = -1001700000999

# (user id, is bot, first name); names with accents check code-point lengths
USERS = [
    (5101, False, "Ana"), (5102, False, "Bruno"), (5103, True, "StatsBot"),
    (5104, False, "Carla"), (5105, False, "João"), (5106, False, "Dmitri"),
    (5107, True, "EchoBot"), (5108, False, "Fátima"), (5109, False, "Gustavo"),
    (5110, False, "Helena"), (5111, False, "Ivo"), (5112, False, "Júlia"),
]

# event time: ten days from Friday 2024-03-08 00:00 UTC, so the dates span
# two ISO-week boundaries and every weekday
EPOCH0 = 1709856000
SPAN_S = 10 * 86400

_WORDS = ("olá", "pipeline", "spark", "dados", "ok", "🙂", "amanhã", "bom",
          "dia", "reunião", "lambda", "s3", "athena", "telegram", "café")

QUERY_NAMES = (
    "select_limit", "daily_count", "user_daily_count", "user_daily_avg_len",
    "hour_weekday_weeknum",
)


def _text_pool(rng: random.Random, size: int = 512) -> list[str]:
    pool = []
    for _ in range(size):
        n_words = rng.randrange(1, 60)
        pool.append(" ".join(rng.choice(_WORDS) for _ in range(n_words)))
    return pool


class UpdateSet:
    """``n`` updates with message ids from ``first_id``, fully determined by
    ``seed``. ``lines`` are the webhook bodies in send order; ``rows`` are
    the flattened enriched rows of the updates from the configured chat,
    in the enriched column order (message_id, user_id, user_is_bot,
    user_first_name, chat_id, chat_type, text, date)."""

    def __init__(self, seed: int, n: int, first_id: int = 1):
        rng = random.Random(seed)
        pool = _text_pool(rng)
        pool_json = [json.dumps(t, ensure_ascii=False) for t in pool]
        self.lines: list[str] = []
        self.rows: list[tuple] = []
        self.chat_lines: list[str] = []  # the lines of the kept updates
        for i in range(n):
            mid = first_id + i
            uid, is_bot, name = USERS[rng.randrange(len(USERS))]
            chat = FOREIGN_CHAT_ID if rng.random() < 0.02 else CHAT_ID
            date = EPOCH0 + rng.randrange(SPAN_S)
            if rng.random() < 0.10:
                text = None
                tail = f',"sticker":{{"file_id":"CAAC{mid}","emoji":"x"}}'
            else:
                k = rng.randrange(len(pool))
                text = pool[k]
                tail = f',"text":{pool_json[k]}'
            self.lines.append(
                f'{{"update_id":{900000000 + mid},"message":{{"message_id":{mid},'
                f'"from":{{"id":{uid},"is_bot":{"true" if is_bot else "false"},'
                f'"first_name":"{name}","last_name":"L{uid}","username":"u{uid}"}},'
                f'"chat":{{"id":{chat},"type":"group","title":"t{chat}"}},'
                f'"date":{date}{tail}}}}}'
            )
            if chat == CHAT_ID:
                self.chat_lines.append(self.lines[-1])
                self.rows.append(
                    (mid, uid, is_bot, name, CHAT_ID, "group", text, date)
                )
        self.foreign = n - len(self.rows)


class DayAgg:
    """Aggregates of one arrival day's rows, the inputs of the five answers."""

    def __init__(self, rows: list[tuple]):
        self.n = len(rows)
        self.by_id = {r[0]: r for r in rows}
        self.users: Counter = Counter()
        self.len_sum: Counter = Counter()
        self.len_cnt: Counter = Counter()
        self.hwk: Counter = Counter()
        # (ISO weekday, ISO week) of each of the SPAN_S / 86400 event days
        days = [dt.datetime.fromtimestamp(EPOCH0 + k * 86400, dt.timezone.utc)
                for k in range(SPAN_S // 86400)]
        week = [(d.isoweekday(), d.isocalendar()[1]) for d in days]
        for mid, uid, _bot, name, _chat, _type, text, date in rows:
            key = (uid, name)
            self.users[key] += 1
            if text is not None:
                self.len_sum[key] += len(text)
                self.len_cnt[key] += 1
            self.hwk[((date // 3600) % 24, *week[(date - EPOCH0) // 86400])] += 1


def expected_answers(days: dict[str, DayAgg]) -> dict[str, list[tuple]]:
    """The five reference answers over arrival days ``{context_date: agg}``,
    as sorted row tuples (select_limit is checked by membership instead)."""
    daily, users, avg_len = [], [], []
    hwk: Counter = Counter()
    for day, agg in days.items():
        daily.append((day, agg.n))
        for (uid, name), cnt in agg.users.items():
            users.append((uid, name, day, cnt))
            c = agg.len_cnt[(uid, name)]
            # Presto's double→int cast rounds half away from zero
            avg = int(Decimal(agg.len_sum[(uid, name)] / c).quantize(
                1, ROUND_HALF_UP)) if c else None
            avg_len.append((uid, name, day, avg))
        hwk.update(agg.hwk)
    return {
        "daily_count": sorted(daily),
        "user_daily_count": sorted(users),
        "user_daily_avg_len": sorted(avg_len, key=repr),
        "hour_weekday_weeknum": sorted((*k, c) for k, c in hwk.items()),
    }


def check_answer(
    name: str, rows: list, days: dict[str, DayAgg], want: dict[str, list[tuple]]
) -> str | None:
    """None when the collected ``rows`` of query ``name`` are right, else a
    one-line description of the first difference."""
    got = [tuple(str(v) if isinstance(v, dt.date) else v for v in r) for r in rows]
    if name == "select_limit":
        total = sum(a.n for a in days.values())
        if len(got) != min(10, total):
            return f"{len(got)} rows, want {min(10, total)}"
        for r in got:
            agg = days.get(r[8])
            if agg is None or agg.by_id.get(r[0]) != r[:8]:
                return f"row not in the generated input: {r}"
        return None
    if name == "hour_weekday_weeknum":
        order = [(r[2], r[1]) for r in got]  # ORDER BY weeknum, weekday
        if order != sorted(order):
            return "rows not ordered by (weeknum, weekday)"
    else:
        col = 0 if name == "daily_count" else 2  # ORDER BY context_date DESC
        dates = [r[col] for r in got]
        if dates != sorted(dates, reverse=True):
            return "rows not ordered by context_date desc"
    key = repr if name == "user_daily_avg_len" else None
    got_sorted = sorted(got, key=key)
    if got_sorted != want[name]:
        got_set, want_set = set(got_sorted), set(want[name])
        missing = [r for r in want[name] if r not in got_set][:1]
        extra = [r for r in got_sorted if r not in want_set][:1]
        return (f"{len(got)} rows vs {len(want[name])} expected; "
                f"first missing {missing}, first unexpected {extra}")
    return None
