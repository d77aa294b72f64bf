"""LDBC-profile workloads: ldbc_interactive (reads) and ldbc_mixed_rw.

The graph is the engine's own LdbcGraphLoader derivation over a set of
TPC-H-shaped tables. The tables are generated here from the seed (same
schemas and value ranges as the engine's test data, at a smaller scale),
so the benchmark reads nothing outside its checkout.

The read templates are the engine catalog's ldbc_ic1, ic2, ic3, ic5, ic8,
ic9, ic11 and ic13, the ones the workloads run, with person, country and
name parameters drawn from the seed. The oracle is the catalog's DuckDB replay of the loader derivation,
with the derived frames materialized once as tables; mixed_rw replays its
writes into those tables as extra rows.
"""
import random

import duckdb
import numpy as np
import pandas as pd

from compare import same_rows

# Derived frames, in dependency order: those of LdbcQueries.prelude that
# the templates' oracle SQL reads, one table each.
PRELUDE = [
    ("dims", """SELECT CAST(max(c_custkey)+1 AS BIGINT) AS n,
  (SELECT CAST(max(s_suppkey)+1 AS BIGINT) FROM supplier) AS s,
  (SELECT CAST(max(p_partkey)+1 AS BIGINT) FROM part) AS p
  FROM customer"""),
    ("person", """SELECT CAST(c_custkey AS BIGINT) AS id,
  'F' || (c_custkey%19) AS firstName,
  'L' || (c_custkey%37) AS lastName,
  CASE WHEN c_custkey%2=0 THEN 'male' ELSE 'female' END AS gender,
  DATE '1980-01-01' + CAST(c_custkey*83%7300 AS INT) AS birthday,
  ['Chrome','Firefox','Safari','Edge'][CAST(c_custkey%4 AS INT)+1]
    AS browserUsed,
  '10.0.' || (c_custkey%256) || '.' || (c_custkey*7%256) AS locationIP,
  'p' || c_custkey || '@ldbc.org' AS email,
  'L' || (c_custkey%5) AS speaks,
  TIMESTAMP '1994-01-01' + (c_custkey*37%1500)*INTERVAL 1 DAY
    + (c_custkey%24)*INTERVAL 1 HOUR AS creationDate,
  c_custkey%(SELECT s FROM dims) AS cityId,
  CAST(c_nationkey AS BIGINT) AS countryId
  FROM customer"""),
    ("city", """SELECT CAST(s_suppkey AS BIGINT) AS id,
  'City_'||s_suppkey AS name, CAST(s_nationkey AS BIGINT) AS countryId
  FROM supplier"""),
    ("country", """SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name
  FROM nation"""),
    ("university", """SELECT CAST(s_suppkey AS BIGINT) AS id,
  'Uni_'||s_suppkey AS name, CAST(s_suppkey AS BIGINT) AS cityId
  FROM supplier WHERE s_suppkey%2=1"""),
    ("company", """SELECT CAST(s_suppkey AS BIGINT) AS id,
  'Co_'||s_suppkey AS name, CAST(s_nationkey AS BIGINT) AS countryId
  FROM supplier WHERE s_suppkey%2=0"""),
    ("forum", """SELECT CAST(s_suppkey AS BIGINT) AS id,
  'Forum_'||s_suppkey AS title,
  (s_suppkey*7+3)%(SELECT n FROM dims) AS moderator
  FROM supplier"""),
    ("post", """SELECT CAST(o_orderkey*8 AS BIGINT) AS id,
  CAST(o_orderkey AS BIGINT) AS pk,
  o_orderdate + (o_orderkey%86399)*INTERVAL 1 SECOND AS creationDate,
  CASE WHEN o_orderkey%10=0 THEN NULL
       ELSE 'post ' || (o_orderkey*8) END AS content,
  CASE WHEN o_orderkey%10=0 THEN 'photo' || (o_orderkey*8) || '.jpg'
       END AS imageFile,
  CAST(floor(o_totalprice) AS BIGINT)%240 AS length,
  'lang' || (o_orderkey%5) AS language,
  CAST(o_custkey AS BIGINT) AS creator,
  o_orderkey%(SELECT s FROM dims) AS forumId
  FROM orders"""),
    ("li", """SELECT o, seq, pk, ep, sd FROM (
  SELECT o, CAST(ROW_NUMBER() OVER (PARTITION BY o ORDER BY lnn)
      AS BIGINT) AS seq, pk, ep, sd FROM (
    SELECT CAST(l_orderkey AS BIGINT) AS o, l_linenumber AS lnn,
      CAST(min(l_partkey) AS BIGINT) AS pk,
      min(l_extendedprice) AS ep, min(l_shipdate) AS sd
    FROM lineitem GROUP BY 1, 2))"""),
    ("comment", """SELECT o*8+seq AS id,
  sd + ((o*7+seq*3605)%86399)*INTERVAL 1 SECOND AS creationDate,
  'reply ' || (o*8+seq) AS content,
  CAST(floor(ep) AS BIGINT)%240 AS length,
  (pk*7+seq*13)%(SELECT n FROM dims) AS creator,
  CASE WHEN seq=1 THEN o*8 ELSE o*8+seq-1 END AS parentId,
  o AS pk
  FROM li"""),
    ("message", """SELECT id, creationDate, content, imageFile, length,
    language, creator, TRUE AS isPost FROM post
  UNION ALL SELECT id, creationDate, content, NULL, length, NULL,
    creator, FALSE FROM comment"""),
    ("knows", """SELECT src, dst, src*(SELECT n FROM dims)+dst AS eid,
  TIMESTAMP '1995-06-01' + ((src*31+dst*17)%2000)*INTERVAL 1 DAY
    + ((src+dst)%24)*INTERVAL 1 HOUR AS creationDate FROM (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
    o_orderkey%(SELECT n FROM dims) AS dst FROM orders
  WHERE o_custkey != o_orderkey%(SELECT n FROM dims))"""),
    ("knows_u", """SELECT src AS a, dst AS b, eid, creationDate FROM knows
  UNION ALL SELECT dst, src, eid, creationDate FROM knows"""),
    ("study", """SELECT CAST(c_custkey AS BIGINT) AS person,
  ((c_custkey//3)%((SELECT s FROM dims)//2))*2+1 AS uni,
  1985 + c_custkey%30 AS classYear
  FROM customer WHERE c_custkey%3=0"""),
    ("work", """SELECT CAST(c_custkey AS BIGINT) AS person,
  ((c_custkey//2)%((SELECT s FROM dims)//2))*2 AS comp,
  1990 + c_custkey%30 AS workFrom
  FROM customer WHERE c_custkey%2=0"""),
    ("member", """SELECT f, m,
  TIMESTAMP '1995-01-01' + ((m*13+f*7)%2000)*INTERVAL 1 DAY AS joinDate
  FROM (SELECT DISTINCT (o_custkey+o_orderkey)%(SELECT s FROM dims)
    AS f, CAST(o_custkey AS BIGINT) AS m FROM orders)"""),
    ("msgcountry", """
  SELECT p.id AS msg, (cu.c_nationkey + p.id%3)%25 AS country
  FROM post p JOIN customer cu ON cu.c_custkey = p.creator
  UNION ALL
  SELECT cm.id, (cu.c_nationkey + cm.id%3)%25
  FROM comment cm JOIN customer cu ON cu.c_custkey = cm.creator"""),
]

FRIENDS = """friends AS (SELECT DISTINCT b FROM (
  SELECT b FROM knows_u WHERE a = <<person>>
  UNION ALL
  SELECT k2.b FROM knows_u k1 JOIN knows_u k2 ON k2.a = k1.b
  WHERE k1.a = <<person>>) WHERE b != <<person>>)"""

# name -> (cypher, oracle SQL); <<param>> marks a seed-drawn parameter.
# Only the templates a workload runs are kept.
TEMPLATES = {
    "ic1": ("""MATCH (p:Person {id: <<person>>}), (friend:Person {firstName: '<<firstName>>'})
WHERE NOT p=friend
WITH p, friend
MATCH path =((p)-[:KNOWS *BFS 1..3]-(friend))
WITH min(size(path)) AS distance, friend
ORDER BY distance ASC, friend.lastName ASC, toInteger(friend.id) ASC
LIMIT 20
MATCH (friend)-[:IS_LOCATED_IN]->(friendCity:City)
OPTIONAL MATCH (friend)-[studyAt:STUDY_AT]->(uni:University)-[:IS_LOCATED_IN]->(uniCity:City)
WITH friend, text.join(collections.sort(collect(
    CASE uni.name WHEN null THEN null
    ELSE uni.name + '|' + toString(studyAt.classYear) + '|' + uniCity.name END)), ';') AS unis,
  friendCity, distance
OPTIONAL MATCH (friend)-[workAt:WORK_AT]->(company:Company)-[:IS_LOCATED_IN]->(companyCountry:Country)
WITH friend, text.join(collections.sort(collect(
    CASE company.name WHEN null THEN null
    ELSE company.name + '|' + toString(workAt.workFrom) + '|' + companyCountry.name END)), ';') AS companies,
  unis, friendCity, distance
RETURN friend.id AS friendId,
  friend.lastName AS friendLastName,
  distance AS distanceFromPerson,
  toString(friend.birthday) AS friendBirthday,
  friend.gender AS friendGender,
  friend.browserUsed AS friendBrowserUsed,
  friend.locationIP AS friendLocationIp,
  friend.email AS friendEmails,
  friend.speaks AS friendLanguages,
  friendCity.name AS friendCityName,
  unis AS friendUniversities,
  companies AS friendCompanies
ORDER BY distanceFromPerson ASC, friendLastName ASC,
  toInteger(friendId) ASC
LIMIT 20""", """WITH RECURSIVE
walk(node, hops) AS (
  SELECT b, 1 FROM knows_u WHERE a = <<person>>
  UNION
  SELECT k.b, w.hops + 1 FROM walk w JOIN knows_u k ON k.a = w.node
  WHERE w.hops < 3),
cand AS (SELECT p.*, d.distance FROM person p
  JOIN (SELECT node, CAST(min(hops) AS BIGINT) AS distance
        FROM walk GROUP BY node) d ON d.node = p.id
  WHERE p.firstName = '<<firstName>>' AND p.id != <<person>>
  ORDER BY d.distance ASC, p.lastName ASC, p.id ASC LIMIT 20),
unis AS (SELECT s.person, list_sort(list(
    u.name || '|' || s.classYear || '|' || 'City_' || u.cityId))
  AS xs FROM study s JOIN university u ON u.id = s.uni GROUP BY 1),
comps AS (SELECT w.person, list_sort(list(
    co.name || '|' || w.workFrom || '|' || ct.name)) AS xs
  FROM work w JOIN company co ON co.id = w.comp
  JOIN country ct ON ct.id = co.countryId GROUP BY 1)
SELECT c.id AS friendId, c.lastName AS friendLastName,
  c.distance AS distanceFromPerson,
  CAST(c.birthday AS VARCHAR) AS friendBirthday,
  c.gender AS friendGender, c.browserUsed AS friendBrowserUsed,
  c.locationIP AS friendLocationIp, c.email AS friendEmails,
  c.speaks AS friendLanguages,
  'City_' || c.cityId AS friendCityName,
  coalesce(array_to_string(u.xs, ';'), '') AS friendUniversities,
  coalesce(array_to_string(cp.xs, ';'), '') AS friendCompanies
FROM cand c
LEFT JOIN unis u ON u.person = c.id
LEFT JOIN comps cp ON cp.person = c.id
ORDER BY distanceFromPerson ASC, friendLastName ASC, friendId ASC
LIMIT 20"""),

    "ic2": ("""MATCH (:Person {id: <<person>>})-[:KNOWS]-(friend:Person)<-[:HAS_CREATOR]-(message:Message)
WHERE message.creationDate <= localDateTime('1998-01-01T00:00:00')
RETURN friend.id AS personId,
  friend.firstName AS personFirstName,
  friend.lastName AS personLastName,
  message.id AS postOrCommentId,
  coalesce(message.content, message.imageFile) AS postOrCommentContent,
  toString(message.creationDate) AS postOrCommentCreationDate
ORDER BY postOrCommentCreationDate DESC, toInteger(postOrCommentId) ASC
LIMIT 20""", """SELECT f.id AS personId, f.firstName AS personFirstName,
  f.lastName AS personLastName, m.id AS postOrCommentId,
  coalesce(m.content, m.imageFile) AS postOrCommentContent,
  CAST(m.creationDate AS VARCHAR) AS postOrCommentCreationDate
FROM knows_u k
JOIN person f ON f.id = k.b
JOIN message m ON m.creator = f.id
WHERE k.a = <<person>> AND m.creationDate <= TIMESTAMP '1998-01-01'
ORDER BY postOrCommentCreationDate DESC, postOrCommentId ASC
LIMIT 20"""),

    "ic3": ("""MATCH (countryX:Country {name: '<<countryX>>'}),
  (countryY:Country {name: '<<countryY>>'}),
  (person:Person {id: <<person>>})
WITH person, countryX, countryY
LIMIT 1
MATCH (city:City)-[:IS_PART_OF]->(country:Country)
WHERE country IN [countryX, countryY]
WITH person, countryX, countryY, collect(city) AS cities
MATCH (person)-[:KNOWS*1..2]-(friend)-[:IS_LOCATED_IN]->(city)
WHERE NOT person=friend AND NOT city IN cities
WITH DISTINCT friend, countryX, countryY
MATCH (friend)<-[:HAS_CREATOR]-(message),
  (message)-[:IS_LOCATED_IN]->(country)
WHERE localDateTime('1995-06-01T00:00:00') + duration({day:365}) > message.creationDate >= localDateTime('1995-06-01T00:00:00') AND
  country IN [countryX, countryY]
WITH friend,
  CASE WHEN country=countryX THEN 1 ELSE 0 END AS messageX,
  CASE WHEN country=countryY THEN 1 ELSE 0 END AS messageY
WITH friend, sum(messageX) AS xCount, sum(messageY) AS yCount
WHERE xCount>0 AND yCount>0
RETURN friend.id AS friendId,
  friend.firstName AS friendFirstName,
  friend.lastName AS friendLastName,
  xCount, yCount,
  xCount + yCount AS xyCount
ORDER BY xyCount DESC, friendId ASC
LIMIT 20""", """WITH xy AS (SELECT id FROM country WHERE name IN ('<<countryX>>','<<countryY>>')),
""" + FRIENDS + """,
eligible AS (SELECT f.b FROM friends f JOIN person p ON p.id = f.b
  JOIN city ci ON ci.id = p.cityId
  WHERE ci.countryId NOT IN (SELECT id FROM xy)),
msgs AS (SELECT m.creator, mc.country FROM message m
  JOIN msgcountry mc ON mc.msg = m.id
  WHERE m.creationDate >= TIMESTAMP '1995-06-01'
    AND m.creationDate < TIMESTAMP '1995-06-01' + 365*INTERVAL 1 DAY
    AND mc.country IN (SELECT id FROM xy)),
agg AS (SELECT e.b AS fid,
  CAST(sum(CASE WHEN ms.country =
    (SELECT id FROM country WHERE name='<<countryX>>')
    THEN 1 ELSE 0 END) AS BIGINT) AS xCount,
  CAST(sum(CASE WHEN ms.country =
    (SELECT id FROM country WHERE name='<<countryY>>')
    THEN 1 ELSE 0 END) AS BIGINT) AS yCount
  FROM eligible e JOIN msgs ms ON ms.creator = e.b GROUP BY 1)
SELECT p.id AS friendId, p.firstName AS friendFirstName,
  p.lastName AS friendLastName, xCount, yCount,
  xCount + yCount AS xyCount
FROM agg JOIN person p ON p.id = agg.fid
WHERE xCount > 0 AND yCount > 0
ORDER BY xyCount DESC, friendId ASC
LIMIT 20"""),

    "ic5": ("""MATCH (person:Person { id: <<person>> })-[:KNOWS*1..2]-(friend)
WHERE NOT person=friend
WITH DISTINCT friend
MATCH (friend)<-[membership:HAS_MEMBER]-(forum)
WHERE membership.joinDate > localDateTime('1995-06-01T00:00:00')
WITH forum, collect(friend) AS friends
OPTIONAL MATCH (friend)<-[:HAS_CREATOR]-(post)<-[:CONTAINER_OF]-(forum)
WHERE friend IN friends
WITH forum, count(post) AS postCount
RETURN forum.title AS forumName, postCount
ORDER BY postCount DESC, forum.id ASC
LIMIT 20""", """WITH """ + FRIENDS + """,
mem AS (SELECT m.f AS fo, m.m AS fr FROM member m
  JOIN friends ON friends.b = m.m
  WHERE m.joinDate > TIMESTAMP '1995-06-01'),
cnt AS (SELECT mem.fo, count(*) AS c FROM mem
  JOIN post p ON p.creator = mem.fr AND p.forumId = mem.fo
  GROUP BY 1)
SELECT f.title AS forumName,
  coalesce(cnt.c, 0) AS postCount
FROM (SELECT DISTINCT fo FROM mem) fs
JOIN forum f ON f.id = fs.fo
LEFT JOIN cnt ON cnt.fo = fs.fo
ORDER BY postCount DESC, f.id ASC
LIMIT 20"""),

    "ic8": ("""MATCH (start:Person {id: <<person>>})<-[:HAS_CREATOR]-(:Message)<-[:REPLY_OF]-(comment:Comment)-[:HAS_CREATOR]->(person:Person)
RETURN person.id AS personId,
  person.firstName AS personFirstName,
  person.lastName AS personLastName,
  toString(comment.creationDate) AS commentCreationDate,
  comment.id AS commentId,
  comment.content AS commentContent
ORDER BY commentCreationDate DESC, commentId ASC
LIMIT 20""", """SELECT p.id AS personId, p.firstName AS personFirstName,
  p.lastName AS personLastName,
  CAST(c.creationDate AS VARCHAR) AS commentCreationDate,
  c.id AS commentId, c.content AS commentContent
FROM message m
JOIN comment c ON c.parentId = m.id
JOIN person p ON p.id = c.creator
WHERE m.creator = <<person>>
ORDER BY commentCreationDate DESC, commentId ASC
LIMIT 20"""),

    "ic9": ("""MATCH (root:Person {id: <<person>>})-[:KNOWS*1..2]-(friend:Person)
WHERE NOT friend = root
WITH collect(distinct friend) as friends
UNWIND friends as friend
MATCH (friend)<-[:HAS_CREATOR]-(message:Message)
WHERE message.creationDate < localDateTime('1996-06-01T00:00:00')
RETURN friend.id AS personId,
  friend.firstName AS personFirstName,
  friend.lastName AS personLastName,
  message.id AS commentOrPostId,
  coalesce(message.content,message.imageFile) AS commentOrPostContent,
  toString(message.creationDate) AS commentOrPostCreationDate
ORDER BY commentOrPostCreationDate DESC, commentOrPostId ASC
LIMIT 20""", """WITH """ + FRIENDS + """
SELECT p.id AS personId, p.firstName AS personFirstName,
  p.lastName AS personLastName, m.id AS commentOrPostId,
  coalesce(m.content, m.imageFile) AS commentOrPostContent,
  CAST(m.creationDate AS VARCHAR) AS commentOrPostCreationDate
FROM friends f
JOIN person p ON p.id = f.b
JOIN message m ON m.creator = f.b
WHERE m.creationDate < TIMESTAMP '1996-06-01'
ORDER BY commentOrPostCreationDate DESC, commentOrPostId ASC
LIMIT 20"""),

    "ic11": ("""MATCH (person:Person {id: <<person>>})-[:KNOWS*1..2]-(friend:Person)
WHERE not(person=friend)
WITH DISTINCT friend
MATCH (friend)-[workAt:WORK_AT]->(company:Company)-[:IS_LOCATED_IN]->(:Country {name: '<<countryX>>'})
WHERE workAt.workFrom < 2005
RETURN friend.id AS personId,
  friend.firstName AS personFirstName,
  friend.lastName AS personLastName,
  company.name AS organizationName,
  workAt.workFrom AS organizationWorkFromYear
ORDER BY organizationWorkFromYear ASC, toInteger(personId) ASC,
  organizationName DESC
LIMIT 10""", """WITH """ + FRIENDS + """
SELECT p.id AS personId, p.firstName AS personFirstName,
  p.lastName AS personLastName, co.name AS organizationName,
  w.workFrom AS organizationWorkFromYear
FROM friends f
JOIN person p ON p.id = f.b
JOIN work w ON w.person = f.b AND w.workFrom < 2005
JOIN company co ON co.id = w.comp
JOIN country ct ON ct.id = co.countryId AND ct.name = '<<countryX>>'
ORDER BY organizationWorkFromYear ASC, personId ASC,
  organizationName DESC
LIMIT 10"""),

    "ic13": ("""MATCH (person1:Person {id: <<person>>}), (person2:Person {id: <<person2>>}),
  path = (person1)-[:KNOWS *BFS]-(person2)
RETURN CASE path IS NULL WHEN true THEN -1 ELSE size(path) END
  AS shortestPathLength""", """WITH RECURSIVE
walk(node, hops) AS (
  SELECT b, 1 FROM knows_u WHERE a = <<person>>
  UNION
  SELECT k.b, w.hops + 1 FROM walk w JOIN knows_u k ON k.a = w.node
  WHERE w.hops < 8)
SELECT CAST(min(hops) AS BIGINT) AS shortestPathLength
FROM walk WHERE node = <<person2>>"""),
}

# mixed_rw statements beyond the read templates
WRITES = {
    "create_person": ("""CREATE (:Person {id: <<person>>, firstName: 'N<<person>>', lastName: '<<lastName>>', gender: 'male', birthday: date('1990-01-01'), browserUsed: 'Chrome', locationIP: '10.9.9.9', email: 'n<<person>>@ldbc.org', speaks: 'L1', creationDate: localDateTime('2000-01-01T00:00:00')})""", None),
    "create_knows": ("""MATCH (a:Person {id: <<person>>}), (b:Person) WHERE b.id IN [<<friends>>]
CREATE (a)-[:KNOWS {creationDate: localDateTime('2000-01-02T00:00:00')}]->(b)""", None),
    "merge_person": ("""MERGE (p:Person {id: <<person>>})
ON CREATE SET p.firstName = 'N<<person>>', p.lastName = '<<lastName>>', p.gender = 'female', p.birthday = date('1991-01-01'), p.browserUsed = 'Firefox', p.locationIP = '10.9.9.8', p.email = 'm<<person>>@ldbc.org', p.speaks = 'L2', p.creationDate = localDateTime('2000-01-03T00:00:00')""", None),
    "set_person": ("""MATCH (p:Person {id: <<person>>}) SET p.lastName = '<<lastName>>'""", None),
    "bi_knows_by_lastname": ("""MATCH (p:Person)-[:KNOWS]->(f:Person)
WITH p.lastName AS lastName, count(*) AS knowsCount
RETURN lastName, knowsCount
ORDER BY knowsCount DESC, lastName ASC
LIMIT 5""", """SELECT p.lastName AS lastName, count(*) AS knowsCount
FROM knows k JOIN person p ON p.id = k.src JOIN person f ON f.id = k.dst
GROUP BY 1
ORDER BY knowsCount DESC, lastName ASC
LIMIT 5"""),
}

READS = ["ic1", "ic9", "ic2", "ic8", "ic11", "ic13"]
# mixed_rw reads start at a person a write just touched; these templates
# walk KNOWS from it, so the new edges and names are visible in results
MIXED_READS = ["ic1", "ic2", "ic3", "ic5", "ic9", "ic11", "ic13"]
MIXED_CYCLE = ["create_person", "read", "create_knows", "read", "set_person",
               "read", "merge_person", "analytical", "read", "analytical"]
# warm-up, with persons the timed stream never uses: one pass over the read
# templates, so no template's first run in the JVM is timed; for mixed_rw
# the first four statements of a cycle (both CREATEs and two reads)
WARMUP_MIXED = 4


def fill(text, params):
    for k, v in params.items():
        text = text.replace("<<%s>>" % k, str(v))
    assert "<<" not in text, text
    return " ".join(text.split())


def generate(out_dir, seed, customers):
    """TPC-H-shaped parquet tables for LdbcGraphLoader, drawn from `seed`."""
    rng = np.random.RandomState(seed)
    n_cust, n_supp = customers, max(20, customers // 15)
    n_part, n_ord = customers * 4 // 3, customers * 10
    con = duckdb.connect()
    lines = 1 + rng.binomial(6, 0.5, size=n_ord)
    orders = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.randint(0, n_cust, size=n_ord).astype(np.int64),
        "o_day": rng.randint(0, 2404, size=n_ord).astype(np.int64),
        "o_totalprice": np.round(rng.uniform(1000, 500000, size=n_ord), 2),
    }
    n_li = int(lines.sum())
    li_order = np.repeat(orders["o_orderkey"], lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lineitem = {
        "l_orderkey": li_order,
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_partkey": rng.randint(0, n_part, size=n_li).astype(np.int64),
        "l_suppkey": rng.randint(0, n_supp, size=n_li).astype(np.int64),
        "l_quantity": rng.randint(1, 51, size=n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, size=n_li), 2),
        "l_ship": orders["o_day"][li_order] + rng.randint(1, 122, size=n_li),
    }
    cust = {"c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_nationkey": rng.randint(0, 25, size=n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, size=n_cust), 2)}
    supp = {"s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_nationkey": rng.randint(0, 25, size=n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, size=n_supp), 2)}
    part = {"p_partkey": np.arange(n_part, dtype=np.int64),
            "p_size": rng.randint(1, 51, size=n_part).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900, 2100, size=n_part), 2)}
    for name, cols in [("o", orders), ("l", lineitem), ("c", cust),
                       ("s", supp), ("p", part)]:
        con.register(name + "_src", pd.DataFrame(cols))
    tables = {
        "region": """SELECT CAST(i AS INTEGER) AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i+1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) AS n_nationkey,
            'NATION_' || i AS n_name, CAST(i % 5 AS INTEGER) AS n_regionkey
            FROM range(25) t(i)""",
        "customer": """SELECT c_custkey, 'Customer#' || c_custkey AS c_name,
            c_nationkey, c_acctbal,
            ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']
              [CAST(c_custkey % 5 AS INTEGER)+1] AS c_mktsegment
            FROM c_src""",
        "supplier": """SELECT s_suppkey, 'Supplier#' || s_suppkey AS s_name,
            s_nationkey, s_acctbal FROM s_src""",
        "part": """SELECT p_partkey, 'part ' || p_partkey AS p_name,
            'Brand#' || (p_partkey % 25) AS p_brand,
            'TYPE ' || (p_partkey % 150) AS p_type, p_size, p_retailprice
            FROM p_src""",
        "orders": """SELECT o_orderkey, o_custkey,
            ['F','O','P'][CAST(o_orderkey % 3 AS INTEGER)+1] AS o_orderstatus,
            o_totalprice,
            CAST(TIMESTAMP '1995-01-01' + o_day * INTERVAL 1 DAY AS TIMESTAMP)
              AS o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']
              [CAST(o_orderkey % 5 AS INTEGER)+1] AS o_orderpriority
            FROM o_src""",
        "lineitem": """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
            l_quantity, l_extendedprice,
            CAST((l_orderkey % 11) / 100.0 AS DOUBLE) AS l_discount,
            CAST((l_orderkey % 9) / 100.0 AS DOUBLE) AS l_tax,
            ['A','N','R'][CAST(l_partkey % 3 AS INTEGER)+1] AS l_returnflag,
            ['F','O'][CAST(l_orderkey % 2 AS INTEGER)+1] AS l_linestatus,
            CAST(TIMESTAMP '1995-01-01' + l_ship * INTERVAL 1 DAY AS TIMESTAMP)
              AS l_shipdate
            FROM l_src""",
    }
    for name, sql in tables.items():
        con.execute("COPY (%s) TO '%s/%s.parquet' (FORMAT PARQUET)"
                    % (sql, out_dir, name))
    con.close()


class Oracle:
    """DuckDB replay of the loader derivation over the generated tables."""

    def __init__(self, data_dir):
        self.con = duckdb.connect()
        for t in ("region nation customer supplier part orders "
                  "lineitem").split():
            self.con.execute("CREATE VIEW %s AS SELECT * FROM "
                             "read_parquet('%s/%s.parquet')" % (t, data_dir, t))
        for name, sql in PRELUDE:
            self.con.execute("CREATE TABLE %s AS %s" % (name, sql))
        self.n_persons = self.con.execute("SELECT n FROM dims").fetchone()[0]

    def query(self, sql):
        return self.con.execute(sql).fetchall()

    def apply(self, template, p):
        """Replays one engine write as extra rows."""
        c = self.con
        if template == "create_person" or (
                template == "merge_person" and not c.execute(
                    "SELECT count(*) FROM person WHERE id = ?",
                    [p["person"]]).fetchone()[0]):
            new = template == "create_person"
            c.execute(
                "INSERT INTO person VALUES (?, ?, ?, ?, DATE '%s', ?, ?, ?, ?, "
                "TIMESTAMP '%s', NULL, NULL)" % (
                    "1990-01-01" if new else "1991-01-01",
                    "2000-01-01" if new else "2000-01-03"),
                [p["person"], "N%d" % p["person"], p["lastName"],
                 "male" if new else "female",
                 "Chrome" if new else "Firefox",
                 "10.9.9.9" if new else "10.9.9.8",
                 ("n%d@ldbc.org" if new else "m%d@ldbc.org") % p["person"],
                 "L1" if new else "L2"])
        elif template == "create_knows":
            for f in p["friend_ids"]:
                c.execute("INSERT INTO knows VALUES (?, ?, NULL, "
                          "TIMESTAMP '2000-01-02')", [p["person"], f])
                c.execute("INSERT INTO knows_u VALUES (?, ?, NULL, "
                          "TIMESTAMP '2000-01-02'), (?, ?, NULL, "
                          "TIMESTAMP '2000-01-02')",
                          [p["person"], f, f, p["person"]])
        elif template == "set_person":
            c.execute("UPDATE person SET lastName = ? WHERE id = ?",
                      [p["lastName"], p["person"]])


def oracle_sql(template, params):
    sql = (TEMPLATES.get(template) or WRITES[template])[1]
    return fill(sql, params) if sql else None


def cypher(template, params):
    return fill((TEMPLATES.get(template) or WRITES[template])[0], params)


class ParamPool:
    """Seed-drawn parameters; warm-up and timed statements use disjoint
    persons."""

    def __init__(self, oracle, rng):
        self.rng = rng
        # parameter curation, as LDBC does it: persons from the middle of
        # the KNOWS-degree distribution, so every seed asks for similar work
        persons = [r[0] for r in oracle.query(
            """WITH d AS (SELECT a, count(*) AS n FROM knows_u GROUP BY a)
            SELECT a FROM d WHERE n BETWEEN
              (SELECT quantile_cont(n, 0.4) FROM d) AND
              (SELECT quantile_cont(n, 0.6) FROM d) ORDER BY a""")]
        rng.shuffle(persons)
        cut = max(4, len(persons) // 10)
        self.warm, self.timed = persons[:cut], persons[cut:]

    def read(self, warm, person=None):
        pool = self.warm if warm else self.timed
        r = self.rng
        countries = r.sample(range(25), 2)
        person = person if person is not None else r.choice(pool)
        p = {"person": person,
             # ic13 asks for the path between two different persons
             "person2": r.choice([x for x in pool if x != person]),
             "firstName": "F%d" % r.randrange(19),
             "countryX": "NATION_%d" % countries[0],
             "countryY": "NATION_%d" % countries[1]}
        return p


def interactive_stream(pool, cycles, warm):
    """Cycles of the read templates in a fixed order, so every run's
    timed phase has the same mix and the same statement positions."""
    return [("read", t, pool.read(warm))
            for _ in range(cycles) for t in READS]


def mixed_stream(pool, cycles, warm, n_persons):
    """The mgbench realistic mix, 30% write / 40% read / 10% update / 20%
    analytical, as fixed cycles of ten statements; reads start at the
    person the cycle just created or updated."""
    out = []
    r = pool.rng
    base = n_persons + (1000000 if warm else 0)
    pool_persons = pool.warm if warm else pool.timed
    created = []
    reads = 0
    for c in range(cycles):
        new_id = base + 2 * c
        merge_id = base + 2 * c + 1 if c % 2 else r.choice(pool_persons)
        friends = r.sample(pool_persons, 3)
        touched = new_id
        for slot in MIXED_CYCLE:
            if slot == "create_person":
                p = {"person": new_id, "lastName": "L%d" % r.randrange(37)}
                created.append(new_id)
                out.append(("write", slot, p))
            elif slot == "create_knows":
                p = {"person": new_id, "friends": ", ".join(map(str, friends)),
                     "friend_ids": friends}
                out.append(("write", slot, p))
            elif slot == "merge_person":
                p = {"person": merge_id, "lastName": "L%d" % r.randrange(37)}
                out.append(("write", slot, p))
            elif slot == "set_person":
                touched = r.choice(created[-5:] + friends)
                p = {"person": touched, "lastName": "L%d" % r.randrange(37)}
                out.append(("update", slot, p))
            elif slot == "analytical":
                out.append(("analytical", "bi_knows_by_lastname", {}))
            else:
                t = MIXED_READS[reads % len(MIXED_READS)]
                reads += 1
                out.append(("read", t, pool.read(warm, person=touched)))
    return out


class LdbcWorkload:
    graph = "ldbc"

    def __init__(self, name, customers):
        self.name = name
        self.customers = customers
        self.conf = {}
        self.mixed = name == "ldbc_mixed_rw"
        # a cycle is the unit a run times whole: the write mix, or one
        # pass over the read templates
        self.cycle = len(MIXED_CYCLE) if self.mixed else len(READS)
        # each set-up loads the graph and builds its adjacency view (~7 s
        # warm, most of it Spark job overhead)
        self.setup_reps = 2

    def generate(self, data_dir, seed):
        generate(data_dir, seed, self.customers)

    def prepare(self, data_dir, seed):
        """Oracle tables and parameter pools, outside the timed set-up."""
        self.oracle = Oracle(data_dir)
        self.pool = ParamPool(self.oracle, random.Random(seed))

    def streams(self, max_cycles):
        if self.mixed:
            n = self.oracle.n_persons
            return (mixed_stream(self.pool, 1, True, n)[:WARMUP_MIXED],
                    mixed_stream(self.pool, max_cycles, False, n))
        return (interactive_stream(self.pool, 1, True),
                interactive_stream(self.pool, max_cycles, False))

    def cypher(self, template, params):
        return cypher(template, params)

    def check(self, executed):
        """(statement, params, engine rows or None on error) in order ->
        list of (ok, why). Writes are replayed in the order executed."""
        verdicts = []
        for kind, template, params, rows in executed:
            if rows is None:
                verdicts.append((False, "error"))
                continue
            if kind in ("write", "update"):
                self.oracle.apply(template, params)
                verdicts.append((True, ""))
                continue
            expected = self.oracle.query(oracle_sql(template, params))
            verdicts.append(same_rows(rows, expected))
        return verdicts
