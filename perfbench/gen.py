"""Seeded Debezium envelope generator and the independent replay model.

The generator writes what a Debezium MySQL connector emits for the
tutorial ``inventory.customers`` table, as Kafka-projection JSON lines
(``key``, ``value``, ``topic``, ``partition``, ``offset``):

- ``r`` snapshot events for the initial rows, then a change log of
  ``c``/``u``/``d`` events, each ``d`` followed by a tombstone
  (``value`` null);
- the in-band Connect schema in both key and value, as the JSON
  converter with ``schemas.enable=true`` writes it (about 2.8 KB per
  envelope), or only the ``payload`` wrapper (about 0.45 KB);
- names and e-mails built from random syllables, so the state
  compresses like real personal data rather than like a pattern.

Keys are spread uniformly over live rows; each key lives in one Kafka
partition (``id % N_PARTITIONS``), so (partition, offset) is a total
order within a key, as Debezium guarantees.

:class:`Model` replays the same events in (partition, offset) order
with plain Python dictionaries. It shares no code with the engine and is
what every run's outputs are checked against.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

TOPIC = "dbserver1.inventory.customers"
N_PARTITIONS = 4
COLUMNS = ("id", "first_name", "last_name", "email")
SCHEMA_DDL = "id long, first_name string, last_name string, email string"

_SYLLABLES = (
    "an ba be bo ca ce da de di do el en fa fe ga gi ha he hi ja jo ka ke ki "
    "ko la le li lo lu ma me mi mo na ne ni no ol or pa pe ra re ri ro ru sa "
    "se si so ta te ti to tu va ve vi wa we ya yo za ze zi ar er ir us th ch "
    "sh br cr dr st tr"
).split()
_DOMAINS = (
    "gmail.com yahoo.com outlook.com hotmail.com icloud.com aol.com "
    "proton.me gmx.de web.de mail.ru yandex.ru qq.com 163.com orange.fr "
    "free.fr libero.it btinternet.com comcast.net verizon.net att.net "
    "acme.io example.org uni-wien.ac.at kth.se"
).split()

_ROW_FIELDS = ",".join(
    '{"type":"%s","optional":false,"field":"%s"}' % (t, c)
    for t, c in (("int32", "id"), ("string", "first_name"),
                 ("string", "last_name"), ("string", "email"))
)
_ROW_SCHEMA = (
    '{"type":"struct","fields":[' + _ROW_FIELDS + '],"optional":true,'
    '"name":"dbserver1.inventory.customers.Value","field":"%s"}'
)
_SOURCE_SCHEMA = (
    '{"type":"struct","fields":['
    '{"type":"string","optional":false,"field":"version"},'
    '{"type":"string","optional":false,"field":"connector"},'
    '{"type":"string","optional":false,"field":"name"},'
    '{"type":"int64","optional":false,"field":"ts_ms"},'
    '{"type":"string","optional":true,"name":"io.debezium.data.Enum",'
    '"version":1,"parameters":{"allowed":"true,last,false,incremental"},'
    '"default":"false","field":"snapshot"},'
    '{"type":"string","optional":false,"field":"db"},'
    '{"type":"string","optional":true,"field":"sequence"},'
    '{"type":"string","optional":true,"field":"table"},'
    '{"type":"int64","optional":false,"field":"server_id"},'
    '{"type":"string","optional":true,"field":"gtid"},'
    '{"type":"string","optional":false,"field":"file"},'
    '{"type":"int64","optional":false,"field":"pos"},'
    '{"type":"int32","optional":false,"field":"row"},'
    '{"type":"int64","optional":true,"field":"thread"},'
    '{"type":"string","optional":true,"field":"query"}],'
    '"optional":false,"name":"io.debezium.connector.mysql.Source",'
    '"field":"source"}'
)
_VALUE_SCHEMA = (
    '{"type":"struct","fields":['
    + (_ROW_SCHEMA % "before") + "," + (_ROW_SCHEMA % "after") + ","
    + _SOURCE_SCHEMA + ","
    '{"type":"string","optional":false,"field":"op"},'
    '{"type":"int64","optional":true,"field":"ts_ms"},'
    '{"type":"struct","fields":['
    '{"type":"string","optional":false,"field":"id"},'
    '{"type":"int64","optional":false,"field":"total_order"},'
    '{"type":"int64","optional":false,"field":"data_collection_order"}],'
    '"optional":true,"name":"event.block","version":1,"field":"transaction"}],'
    '"optional":false,"name":"dbserver1.inventory.customers.Envelope",'
    '"version":1}'
)
_KEY_SCHEMA = (
    '{"type":"struct","fields":[{"type":"int32","optional":false,"field":"id"}],'
    '"optional":false,"name":"dbserver1.inventory.customers.Key"}'
)


@dataclass(frozen=True)
class Event:
    """One change event. ``row`` is the after-image (None for ``d``);
    ``before`` the before-image (None for ``c``/``r``)."""

    op: str
    id: int
    row: tuple | None
    before: tuple | None
    partition: int
    offset: int


def _row_json(row: tuple | None) -> str:
    if row is None:
        return "null"
    return '{"id":%d,"first_name":"%s","last_name":"%s","email":"%s"}' % row


def _esc(s: str) -> str:
    # Every generated string is ASCII letters, digits and punctuation
    # without backslashes, so JSON-escaping a nested document only has
    # to escape its quotes.
    return s.replace('"', '\\"')


_KEY_SCHEMA_ESC = _esc(_KEY_SCHEMA)
_VALUE_SCHEMA_ESC = _esc(_VALUE_SCHEMA)
_LINE = '{"key":"%s","value":%s,"topic":"' + TOPIC + '","partition":%d,"offset":%d}'


def render(ev: Event, ts_ms: int, schema: bool) -> list[str]:
    """The JSON line(s) one event puts on the topic: the envelope, and a
    tombstone after a delete. ``ts_ms`` stamps ``source.ts_ms``. Without
    ``schema`` the envelope keeps its ``payload`` wrapper but drops the
    in-band Connect schema (the engine parses only wrapped envelopes)."""
    key = '{\\"id\\":%d}' % ev.id
    key = ('{\\"schema\\":%s,\\"payload\\":%s}' % (_KEY_SCHEMA_ESC, key) if schema
           else '{\\"payload\\":%s}' % key)
    payload = _esc(
        '{"before":%s,"after":%s,"source":{"version":"1.9.7.Final",'
        '"connector":"mysql","name":"dbserver1","ts_ms":%d,"snapshot":"%s",'
        '"db":"inventory","sequence":null,"table":"customers",'
        '"server_id":223344,"gtid":null,"file":"mysql-bin.000003",'
        '"pos":%d,"row":0,"thread":%s,"query":null},"op":"%s","ts_ms":%d,'
        '"transaction":null}'
        % (
            _row_json(ev.before), _row_json(ev.row), ts_ms,
            "true" if ev.op == "r" else "false", 154 + 37 * ev.offset,
            "null" if ev.op == "r" else "7", ev.op, ts_ms,
        )
    )
    payload = ('{\\"schema\\":%s,\\"payload\\":%s}' % (_VALUE_SCHEMA_ESC, payload)
               if schema else '{\\"payload\\":%s}' % payload)
    lines = [_LINE % (key, '"' + payload + '"', ev.partition, ev.offset)]
    if ev.op == "d":
        lines.append(_LINE % (key, "null", ev.partition, ev.offset + 1))
    return lines


class EventLog:
    """Seeded source database: snapshot rows, then a change log over them.

    ``next_change`` draws one change: 10% inserts of new ids, 80% updates
    and 10% deletes of a uniformly chosen live row."""

    def __init__(self, seed: int, n_rows: int):
        self.rng = random.Random(seed)
        self.next_offset = [0] * N_PARTITIONS
        self.live: list[int] = []
        self._pos: dict[int, int] = {}
        self.rows: dict[int, tuple] = {}
        self.next_id = 1
        self.snapshot = [self._insert("r") for _ in range(n_rows)]

    def _name(self, lo: int, hi: int) -> str:
        r = self.rng
        return "".join(r.choice(_SYLLABLES) for _ in range(r.randint(lo, hi))).capitalize()

    def _email(self, first: str, last: str) -> str:
        r = self.rng
        sep = r.choice((".", "_", "", "."))
        tail = str(r.randint(1, 9999)) if r.random() < 0.6 else ""
        return f"{first.lower()}{sep}{last.lower()}{tail}@{r.choice(_DOMAINS)}"

    def _event(self, op: str, id_: int, row, before) -> Event:
        p = id_ % N_PARTITIONS
        off = self.next_offset[p]
        self.next_offset[p] += 2 if op == "d" else 1  # a tombstone follows a delete
        return Event(op, id_, row, before, p, off)

    def _insert(self, op: str) -> Event:
        id_ = self.next_id
        self.next_id += 1
        first, last = self._name(2, 3), self._name(2, 4)
        row = (id_, first, last, self._email(first, last))
        self._pos[id_] = len(self.live)
        self.live.append(id_)
        self.rows[id_] = row
        return self._event(op, id_, row, None)

    def next_change(self) -> Event:
        u = self.rng.random()
        if u < 0.1 or not self.live:
            return self._insert("c")
        id_ = self.live[self.rng.randrange(len(self.live))]
        before = self.rows[id_]
        if u < 0.9:
            _, first, last, email = before
            which = self.rng.random()
            if which < 0.5:
                email = self._email(first, last)
            elif which < 0.8:
                last = self._name(2, 4)
            else:
                first = self._name(2, 3)
            row = (id_, first, last, email)
            self.rows[id_] = row
            return self._event("u", id_, row, before)
        i = self._pos.pop(id_)
        moved = self.live.pop()
        if moved != id_:
            self.live[i] = moved
            self._pos[moved] = i
        del self.rows[id_]
        return self._event("d", id_, None, before)

    def changes(self, n: int) -> list[Event]:
        return [self.next_change() for _ in range(n)]


def domain_of(email: str) -> str:
    return email.rsplit("@", 1)[1]


class Model:
    """Independent replay: the state a correct CDC sink must hold after
    the given events, plus the scan's aggregate kept up to date.

    Events are applied in (partition, offset) order; a ``d`` removes the
    row, every other op writes its after-image."""

    def __init__(self) -> None:
        self.rows: dict[int, tuple] = {}
        self.agg: dict[str, list[int]] = {}

    def _account(self, row: tuple, sign: int) -> None:
        id_, first, last, email = row
        a = self.agg.setdefault(domain_of(email), [0, 0, 0, 0, 0])
        a[0] += sign
        a[1] += sign * id_
        a[2] += sign * len(first)
        a[3] += sign * len(last)
        a[4] += sign * len(email)
        if a[0] == 0:
            del self.agg[domain_of(email)]

    def apply(self, events: list[Event]) -> None:
        for ev in sorted(events, key=lambda e: (e.partition, e.offset)):
            old = self.rows.pop(ev.id, None)
            if old is not None:
                self._account(old, -1)
            if ev.op != "d":
                self.rows[ev.id] = ev.row
                self._account(ev.row, +1)

    def scan(self) -> dict[str, tuple]:
        """domain → (rows, sum id, sum len first, sum len last, sum len email)."""
        return {d: tuple(a) for d, a in self.agg.items()}
