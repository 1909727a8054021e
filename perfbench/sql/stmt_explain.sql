EXPLAIN (TYPE VALIDATE) SELECT l_returnflag, count(*) AS n FROM lineitem WHERE l_quantity > 10 GROUP BY l_returnflag
;
-- check: shape
EXPLAIN (TYPE LOGICAL) SELECT c_nationkey, count(*) AS n FROM customer JOIN orders ON o_custkey = c_custkey GROUP BY c_nationkey
;
-- check: shape
EXPLAIN (TYPE DISTRIBUTED) SELECT o_orderpriority, max(o_totalprice) AS m FROM orders GROUP BY o_orderpriority
